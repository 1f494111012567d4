"""LLM-data-pipeline query catalog: dedup, similarity, text, media.

Driver-mandated extensions (SURVEY.md §2.11, BASELINE.json). Same
contract as relational.py: every oracle-paired query aliases columns
identically and rounds computed doubles on both sides. Queries with
engine-specific hashing (minhash/simhash/IVF) are registered without
an oracle — the driver records the weaker rows-only check — and get
exact-recall unit tests instead (tests/test_dedup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as T
from ..functions import vector as V
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from ..operators import windows as OW
from ..operators.skew import widen_narrow_source
from ..session import shuffle_width
from ..sources import load
from .relational import SCALED_ORACLES, TOLERANCE_ORACLES, register

# Shared normalization SQL fragment (DuckDB needs the 'g' flag to
# replace globally; Spark's regexp_replace is global by default).
NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
SHINGLE_K = 3
JACCARD_THRESHOLD = 0.04
MAX_DOC_FREQ = 10_000  # jaccard posting-list df-cut (operators/dedup.py)

# Deterministic pseudo-random hyperplanes for embedding LSH (no RNG
# state to seed; shared by the Spark plan and its DuckDB oracle).
# md5 mixing per (plane, dim): the earlier linear-congruential form
# (((i*M + d*K) % 1000) ...) put every plane on ONE linear family
# mod 1000 — correlated sign bits, so vectors piled into a few
# buckets and the bucket self-join went quadratic at scale
# (tools/scale_smoke.py caught it: ratio 25 at 10x). Hash-mixed
# planes are ~orthogonal in expectation and bucket occupancy follows
# n / 2^planes as the LSH contract assumes.


def _scratch_dir() -> str:
    """Per-user scratch base for content-keyed fixture/index dirs.

    Previously these lived flat in /tmp under predictable names — on
    a shared host another user could pre-create (squat) the path, and
    two of our own sessions shared state across users. Scoping under
    tempdir/spark_graft_<user> (mode 0700) closes both; the
    SPARK_GRAFT_TMP env var overrides the base for deployments whose
    scratch volume is elsewhere."""
    import getpass
    import os
    import tempfile

    base = os.environ.get("SPARK_GRAFT_TMP")
    if not base:
        base = os.path.join(
            tempfile.gettempdir(), f"spark_graft_{getpass.getuser()}"
        )
    os.makedirs(base, mode=0o700, exist_ok=True)
    # the path is still predictable, so a PRE-EXISTING dir must be
    # proven ours: makedirs(exist_ok=True) neither applies the mode
    # nor checks ownership, and accepting a squatter's world-writable
    # dir would let them swap index/fixture parquet under us (the
    # tempfile safe-dir rule)
    st = os.stat(base)
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise RuntimeError(
            f"scratch dir {base} is owned by uid {st.st_uid}, not us; "
            "set SPARK_GRAFT_TMP to a directory you own"
        )
    if st.st_mode & 0o077:
        os.chmod(base, 0o700)
    return base


def _write_ordered_stream_fixture(stream_dir: str, parts) -> None:
    """Materialize a deterministic multi-micro-batch file-stream
    fixture: each (name, df, mtime) in ``parts`` becomes ONE parquet
    file in ``stream_dir`` with a pinned mtime, so a
    maxFilesPerTrigger=1 source replays the batches in a fixed order
    (FileStreamSource takes oldest-first). A ``_READY`` sentinel is
    written LAST as the commit marker; callers skip the build when it
    exists. Shared by the incremental-dedup and approach work-queue
    stream fixtures."""
    import os
    import shutil

    if os.path.exists(os.path.join(stream_dir, "_READY")):
        return
    os.makedirs(stream_dir, exist_ok=True)
    for name, df, mtime in parts:
        tmp = os.path.join(stream_dir, f".tmp_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(stream_dir, name)
        shutil.copy(os.path.join(tmp, part), dst)
        os.utime(dst, (mtime, mtime))
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(stream_dir, "_READY"), "w") as f:
        f.write("ok")


def _plane_component(i: int, d: int) -> float:
    import hashlib

    h = int.from_bytes(
        hashlib.md5(f"plane:{i}:{d}".encode()).digest()[:4], "big"
    )
    return ((h % 2001) - 1000) / 1000.0


LSH_PLANES = [[_plane_component(i, d) for d in range(64)] for i in range(8)]

_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(SQRT(list_dot_product({a}, {a})) * SQRT(list_dot_product({b}, {b})))"
)

# Quantized-exact cosine (mirrors similarity.cosine_q): components
# rounded to integer micros BEFORE the dot, so every dot is a sum of
# integers far below 2^53 — exact in any summation order on any
# engine. The raw-float _COS_SQL variant diverged from Spark by an
# ulp at sf0.1 and flipped a round-4 rank boundary in the k-NN graph.
_VQ_SQL = "list_transform({v}, x -> ROUND(x * 1000000.0, 0))"
_COS_Q_SQL = (
    f"list_dot_product({_VQ_SQL.format(v='{a}')}, {_VQ_SQL.format(v='{b}')}) / "
    f"(SQRT(list_dot_product({_VQ_SQL.format(v='{a}')}, {_VQ_SQL.format(v='{a}')})) * "
    f"SQRT(list_dot_product({_VQ_SQL.format(v='{b}')}, {_VQ_SQL.format(v='{b}')})))"
)


def _plane_bucket_sql(vec: str) -> str:
    """Sign-bit bucket id of ``vec`` vs LSH_PLANES as a SQL expr —
    mirrors similarity.lsh_bucket_assignments bit for bit: the SAME
    integer-quantized dot (vector micros x plane milli-grid), so the
    sign test is exact on both engines (a raw float dot within an ulp
    of zero flipped a bucket at sf0.1), same 2^i packing."""
    vq = _VQ_SQL.format(v=vec)
    bits = []
    for i, p in enumerate(LSH_PLANES):
        lit = "[" + ", ".join(
            repr(float(S.round_half_away(x * 1000))) for x in p
        ) + "]"
        bits.append(
            f"CASE WHEN list_dot_product({vq}, {lit}) > 0 THEN {1 << i} ELSE 0 END"
        )
    return " + ".join(bits)


# ---------------------------------------------------------------------------
# Dedup
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    f"""
    SELECT md5({NORM_SQL}) AS fp,
           MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by md5 fingerprint of normalized text — shuffle
    carries 16-byte keys, not bodies."""
    return D.exact_dedup(load(spark, sf_dir, "documents"))


_SHINGLE_SQL = f"""
    docs AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ),
    idx AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - {SHINGLE_K - 2})) AS i
      FROM docs WHERE len(toks) >= {SHINGLE_K}
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+{SHINGLE_K - 1}], ' ') AS s
      FROM idx
    ),
    -- the df-cut index the Spark plan actually joins on: shingles in
    -- more than MAX_DOC_FREQ docs (stop phrases) are dropped from the
    -- join side; set sizes still count every shingle (lower-bound
    -- jaccard semantics, matching operators/dedup.jaccard_pairs)
    sh_cut AS (
      SELECT doc_id, s FROM sh
      WHERE s NOT IN (SELECT s FROM sh GROUP BY s HAVING COUNT(*) > {MAX_DOC_FREQ})
    )
"""


@register(
    "dedup_jaccard_pairs",
    f"""
    WITH {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh_cut a JOIN sh_cut b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2,
           ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 4) AS jaccard
    FROM common
      JOIN sizes s1 ON common.id1 = s1.doc_id
      JOIN sizes s2 ON common.id2 = s2.doc_id
    WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard near-dup pairs via inverted-index
    join (no n^2 cross product)."""
    out = D.jaccard_pairs(
        load(spark, sf_dir, "documents"),
        k=SHINGLE_K,
        threshold=JACCARD_THRESHOLD,
    )
    return out.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


@register(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh_cut a JOIN sh_cut b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id1, id2 FROM common
        JOIN sizes s1 ON common.id1 = s1.doc_id
        JOIN sizes s2 ON common.id2 = s2.doc_id
      WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION SELECT id2, id1 FROM pairs
    ),
    reach(id, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
    )
    SELECT id AS doc_id, MIN(root) AS cluster_id
    FROM reach GROUP BY id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (not just pairs): connected components over
    the exact-Jaccard pair graph by iterative min-label propagation —
    the dedup survivorship step that picks one representative per
    transitive duplicate group. Oracle: recursive CTE reachability.
    Isolated documents form singleton clusters."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, k=SHINGLE_K, threshold=JACCARD_THRESHOLD)
    return D.connected_components(
        pairs, docs.select("doc_id"), id_col="doc_id"
    )


@register(
    "dedup_cluster_keep_best",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh_cut a JOIN sh_cut b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id1, id2 FROM common
        JOIN sizes s1 ON common.id1 = s1.doc_id
        JOIN sizes s2 ON common.id2 = s2.doc_id
      WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION SELECT id2, id1 FROM pairs
    ),
    reach(id, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
    ),
    clusters AS (
      SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id
    ),
    ranked AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
      FROM clusters c JOIN documents d USING (doc_id)
    )
    SELECT cluster_id, doc_id AS keeper_id, n_chars AS keeper_quality,
           cluster_size
    FROM ranked WHERE rn = 1
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end NEAR-dup survivorship: exact-Jaccard pair graph ->
    connected components -> one kept representative per transitive
    duplicate cluster, chosen by quality (n_chars desc, ties to the
    lowest id). The composition a real pretraining pipeline ships —
    dedup_keep_best's exact-duplicate survivorship upgraded to
    near-duplicate clusters. Scale shape inherits its parts: df-cut
    inverted-index pairs, k-hop label propagation over only the dup
    graph, one window over cluster-sized groups."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, k=SHINGLE_K, threshold=JACCARD_THRESHOLD)
    clusters = D.connected_components(
        pairs, docs.select("doc_id"), id_col="doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(docs.select("doc_id", "n_chars"), "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_id"),
            F.col("n_chars").alias("keeper_quality"),
            "cluster_size",
        )
    )


_MINHASH_N = 32
_MINHASH_BANDS = 16
_MINHASH_R = _MINHASH_N // _MINHASH_BANDS
_MINHASH_SIG_SQL = ", ".join(
    f"MIN(a + {i} * b) AS h{i}" for i in range(_MINHASH_N)
)
_MINHASH_BAND_SQL = " OR ".join(
    "("
    + " AND ".join(
        f"x.h{bb * _MINHASH_R + r} = y.h{bb * _MINHASH_R + r}"
        for r in range(_MINHASH_R)
    )
    + ")"
    for bb in range(_MINHASH_BANDS)
)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH {_SHINGLE_SQL},
    hh AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT) AS a,
             CAST(concat('0x', substr(md5(s), 15, 13)) AS BIGINT) AS b
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {_MINHASH_SIG_SQL} FROM hh GROUP BY doc_id
    ),
    cand AS (
      SELECT x.doc_id AS id1, y.doc_id AS id2
      FROM sig x JOIN sig y ON x.doc_id < y.doc_id
      WHERE {_MINHASH_BAND_SQL}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT cand.id1, cand.id2,
           ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 4) AS jaccard
    FROM cand
      JOIN common ON cand.id1 = common.id1 AND cand.id2 = common.id2
      JOIN sizes s1 ON cand.id1 = s1.doc_id
      JOIN sizes s2 ON cand.id2 = s2.doc_id
    WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH candidates, exact-Jaccard verified: the
    100 TB near-dedup path. Registered with the md5km hash family
    (Kirsch-Mitzenmeier h_i = a + i*b from one md5 per shingle), so
    the DuckDB oracle reproduces the EXACT candidate set and the
    driver records a hash match, not rows-only; the xxhash64 family
    is the hot path and is equivalence-tested in tests/test_dedup."""
    out = D.minhash_lsh_pairs(
        load(spark, sf_dir, "documents"),
        k=SHINGLE_K,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        verify_threshold=JACCARD_THRESHOLD,
        hash_family="md5km",
    )
    return out.select("id1", "id2", F.round("jaccard", 4).alias("jaccard"))


@register(
    "dedup_incremental_minhash_docs",
    f"""
    WITH {_SHINGLE_SQL},
    hh AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT) AS a,
             CAST(concat('0x', substr(md5(s), 15, 13)) AS BIGINT) AS b
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {_MINHASH_SIG_SQL} FROM hh GROUP BY doc_id
    ),
    cand AS (
      SELECT x.doc_id AS nid, y.doc_id AS hid
      FROM sig x JOIN sig y ON x.doc_id % 3 = 0 AND y.doc_id % 3 <> 0
      WHERE {_MINHASH_BAND_SQL}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS nid, b.doc_id AS hid, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s
      WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0
      GROUP BY 1, 2
    ),
    matched AS (
      SELECT DISTINCT cand.nid
      FROM cand
        JOIN common ON cand.nid = common.nid AND cand.hid = common.hid
        JOIN sizes s1 ON cand.nid = s1.doc_id
        JOIN sizes s2 ON cand.hid = s2.doc_id
      WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {JACCARD_THRESHOLD}
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id % 3 = 0
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.nid = d.doc_id)
    """,
)
def dedup_incremental_minhash_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEAR-dup incremental dedup (operators/dedup.
    incremental_minhash_dedup): new docs (doc_id % 3 == 0) are
    LSH-banded against the corpus history's signature table
    (doc_id % 3 != 0) and kept only if no candidate passes the exact
    Jaccard verify — the MinHash companion to the exact-fingerprint
    `dedup_incremental_docs` and the crawl-batch shape real LLM
    pipelines run (the 16 genuine cross-class near-dup pairs in the
    documents table at sf0.01 make this a live filter, not a
    pass-through). md5km hash family so the DuckDB oracle reproduces
    the exact signatures, band candidates, and verify; the xxhash64
    hot path is equivalence-tested in tests/test_dedup."""
    docs = load(spark, sf_dir, "documents")
    out = D.incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 3 == 0),
        history=docs.filter(F.col("doc_id") % 3 != 0),
        k=SHINGLE_K,
        num_hashes=_MINHASH_N,
        bands=_MINHASH_BANDS,
        verify_threshold=JACCARD_THRESHOLD,
        hash_family="md5km",
    )
    return out.select("doc_id")


_SIMHASH_MAXH = 12
_SIMHASH_VOTE_SQL = ", ".join(
    [f"SUM((hlo >> {b}) & 1) AS b{b}" for b in range(32)]
    + [f"SUM((hhi >> {b - 32}) & 1) AS b{b}" for b in range(32, 64)]
)
_SIMHASH_SIG_SQL = ", ".join(
    f"CASE WHEN b{b} * 2 >= n THEN 1 ELSE 0 END AS s{b}" for b in range(64)
)
_SIMHASH_BLOCK_SQL = " OR ".join(
    "("
    + " AND ".join(f"x.s{blk * 16 + j} = y.s{blk * 16 + j}" for j in range(16))
    + ")"
    for blk in range(4)
)
_SIMHASH_HAMMING_SQL = " + ".join(
    f"CASE WHEN x.s{b} <> y.s{b} THEN 1 ELSE 0 END" for b in range(64)
)


@register(
    "dedup_simhash",
    f"""
    WITH {_SHINGLE_SQL},
    hh AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS hhi,
             CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT) AS hlo
      FROM sh
    ),
    votes AS (
      SELECT doc_id, COUNT(*) AS n, {_SIMHASH_VOTE_SQL}
      FROM hh GROUP BY doc_id
    ),
    sig AS (SELECT doc_id, {_SIMHASH_SIG_SQL} FROM votes)
    SELECT x.doc_id AS id1, y.doc_id AS id2,
           CAST({_SIMHASH_HAMMING_SQL} AS INT) AS hamming
    FROM sig x JOIN sig y ON x.doc_id < y.doc_id
    WHERE ({_SIMHASH_BLOCK_SQL})
      AND ({_SIMHASH_HAMMING_SQL}) <= {_SIMHASH_MAXH}
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs within hamming distance 12 of the
    64-bit signature, candidates from 16-bit block collisions.
    Registered with the md5 hash family so the DuckDB oracle
    recomputes bit votes, majority signature, block candidates and
    hamming verify exactly — hash-green, not rows-only; the xxhash64
    family stays the JVM hot path (tests/test_dedup)."""
    out = D.simhash_pairs(
        load(spark, sf_dir, "documents"),
        max_hamming=_SIMHASH_MAXH,
        k=SHINGLE_K,
        hash_family="md5",
    )
    return out.select("id1", "id2", F.col("hamming").cast("int").alias("hamming"))


@register(
    "embedding_neardup_pairs",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    )
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           ROUND({_COS_Q_SQL.format(a='a.v', b='b.v')}, 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COS_Q_SQL.format(a='a.v', b='b.v')} >= 0.35
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact, id<-restricted variant
    for oracle comparability; scale path buckets with LSH first)."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = D.embedding_neardup_pairs(emb, threshold=0.35)
    return out.select("id1", "id2", F.round("cosine", 4).alias("cosine"))


SPAN_K = 8  # tokens per repeated-span gram


@register(
    "substring_dup_spans",
    f"""
    WITH docs AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ),
    idx AS (
      SELECT doc_id, toks, unnest(range(1, len(toks) - {SPAN_K - 2})) AS i
      FROM docs WHERE len(toks) >= {SPAN_K}
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(toks[i:i+{SPAN_K - 1}], ' ') AS gram
      FROM idx
    )
    SELECT gram, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM g GROUP BY gram HAVING COUNT(*) >= 2
    """,
)
def substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication: SPAN_K-token (8) spans that
    occur verbatim in 2+ documents — the signal behind substring
    (span-level) training-data dedup, where repeated boilerplate
    passages are cut even when whole documents differ.

    Scale shape: the shared shingle pipeline (dedup._shingle_sets,
    string mode) assembles the grams in one explode + ordered-window
    pass, then ONE groupBy(gram) with map-side partial counts; the
    >=2-docs filter runs post-aggregate, so nothing pairwise ever
    forms. At 100 TB the group key would be the default xxhash64
    encoding — 8-byte shuffle keys, with gram text resolved only for
    the surviving report rows — here the gram string itself is
    grouped so the DuckDB oracle can reproduce values exactly."""
    grams = D._shingle_sets(
        load(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=SPAN_K,
        as_string=True,
    )
    return (
        grams.groupBy(F.col("sh").alias("gram"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("id").alias("min_doc"),
            F.max("id").alias("max_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_QVEC_CACHE: dict[tuple, list[float]] = {}


def _query_vector(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    """The fixed ANN query vector — an INPUT constant of the query,
    fetched with a .first() action at plan-build time. Memoized per
    (file identity, vec_id): the r12 ann_cosine_topk A/B showed this
    probe was ~half the measured query time (0.45 s of ~0.95 s at
    sf0.1 — a full scan job per construction). Keyed on
    realpath+mtime+size so testdata regeneration invalidates."""
    import os

    path = os.path.realpath(os.path.join(sf_dir, "embeddings.parquet"))
    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size, vec_id)
    except OSError:
        key = None  # non-local sf_dir: no stat, no caching
    if key is not None and key in _QVEC_CACHE:
        return _QVEC_CACHE[key]
    row = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    vec = [float(x) for x in row["embedding"]]
    if key is not None:
        _QVEC_CACHE[key] = vec
    return vec


@register(
    "ann_cosine_topk",
    f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE vec_id <> 0 AND list_dot_product(embedding, embedding) > 0),
         s AS (SELECT vec_id,
                      ROUND({_COS_Q_SQL.format(a='v', b='qv')}, 6) + 0.0 AS c6
               FROM e, q)
    SELECT vec_id, ROUND(c6, 4) + 0.0 AS cosine
    FROM s
    ORDER BY c6 DESC, vec_id
    LIMIT 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the vec_id=0 query vector: the
    exact ANN baseline. Dot product folds to codegen'd arithmetic;
    top-k is TakeOrdered (no global sort)."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = _query_vector(spark, sf_dir, 0)
    out = S.cosine_topk(emb, q, k=10, exclude_id=0)
    return out.select(
        "vec_id", (F.round("cosine", 4) + F.lit(0.0)).alias("cosine")
    ).orderBy(F.col("cosine").desc(), F.col("vec_id"))


@register(
    "embedding_neardup_lsh",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), b AS (
      SELECT vec_id, v, ({_plane_bucket_sql('v')}) AS bucket FROM e
    )
    SELECT a.vec_id AS id1, c.vec_id AS id2,
           ROUND({_COS_Q_SQL.format(a='a.v', b='c.v')}, 4) AS cosine
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE {_COS_Q_SQL.format(a='a.v', b='c.v')} >= 0.35
    """,
)
def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed near-dup pairs — the linear-shuffle
    scale path for embedding dedup. The hyperplanes are deterministic
    literals, so even this LSH variant is fully oracle-paired (the
    DuckDB SQL recomputes the same sign-bit buckets)."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = D.embedding_neardup_lsh(emb, LSH_PLANES, threshold=0.35)
    return out.select("id1", "id2", F.round("cosine", 4).alias("cosine"))


@register(
    "embedding_incremental_neardup",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), live AS (
      SELECT vec_id, v, ({_plane_bucket_sql('v')}) AS bucket
      FROM e WHERE list_dot_product(v, v) > 0
    ), matched AS (
      SELECT DISTINCT n.vec_id
      FROM live n JOIN live h ON n.bucket = h.bucket
      WHERE n.vec_id % 3 = 0 AND h.vec_id % 3 <> 0
        AND {_COS_Q_SQL.format(a='n.v', b='h.v')} >= 0.35
    )
    SELECT e.vec_id FROM e
    WHERE e.vec_id % 3 = 0
      AND NOT EXISTS (SELECT 1 FROM matched m WHERE m.vec_id = e.vec_id)
    """,
)
def embedding_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space incremental near-dup dedup (operators/dedup.
    embedding_incremental_neardup): new vectors (vec_id % 3 == 0) are
    hyperplane-LSH bucketed against the corpus history's bucket
    assignment (vec_id % 3 != 0) and kept only when no cross-side
    candidate verifies at cosine >= 0.35 — completes the incremental
    family (exact fingerprint, MinHash text, embedding cosine). The
    deterministic literal planes make even the LSH candidate step
    exactly reproducible in the DuckDB oracle. Zero vectors never
    match and are always kept."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    out = D.embedding_incremental_neardup(
        emb.filter(F.col("vec_id") % 3 == 0),
        emb.filter(F.col("vec_id") % 3 != 0),
        LSH_PLANES,
        threshold=0.35,
    )
    return out.select("vec_id")


# Shared pieces of the unrolled-CTE GD oracle: feat (MATERIALIZED —
# referenced by every gradient pass; default inlining re-expands the
# chain per reference), the hard-sigmoid p, and the it0..it4 weight
# chain. _lr_oracle composes them for the trainer query;
# dedup_keep_best_scored reuses the SAME chain to score survivors.
_LR_FEAT_CTE = """
    feat AS MATERIALIZED (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
             LEAST(len(toks), 512) / 512.0 AS x1,
             ((length(norm) - (len(toks) - 1.0)) / len(toks)) / 10.0 AS x2,
             len(list_distinct(toks)) * 1.0 / len(toks) AS x3
      FROM (
        SELECT doc_id, lang, norm, string_split(norm, ' ') AS toks
        FROM (
          SELECT doc_id, lang,
                 trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
          FROM documents
        )
      )
    ),
    it0 AS (SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS w1,
                   CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"""

_LR_P_EXPR = (
    "LEAST(GREATEST(0.25 * (i.b/1e6 + i.w1/1e6*x1 + i.w2/1e6*x2 "
    "+ i.w3/1e6*x3) + 0.5, 0.0), 1.0)"
)


def _lr_iter_ctes(n_iter: int = 4) -> str:
    its = []
    for t in range(n_iter):
        its.append(f"""
    g{t} AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(ROUND((y - p) * 1000000.0, 0) AS BIGINT)) AS g0,
             SUM(CAST(ROUND((y - p) * x1 * 1000000.0, 0) AS BIGINT)) AS gx1,
             SUM(CAST(ROUND((y - p) * x2 * 1000000.0, 0) AS BIGINT)) AS gx2,
             SUM(CAST(ROUND((y - p) * x3 * 1000000.0, 0) AS BIGINT)) AS gx3
      FROM (SELECT f.*, {_LR_P_EXPR} AS p FROM feat f, it{t} i)
    ),
    it{t + 1} AS (
      SELECT i.b + CAST(ROUND(0.5 * g.g0 / g.n, 0) AS BIGINT) AS b,
             i.w1 + CAST(ROUND(0.5 * g.gx1 / g.n, 0) AS BIGINT) AS w1,
             i.w2 + CAST(ROUND(0.5 * g.gx2 / g.n, 0) AS BIGINT) AS w2,
             i.w3 + CAST(ROUND(0.5 * g.gx3 / g.n, 0) AS BIGINT) AS w3
      FROM it{t} i, g{t} g
    )""")
    return ",".join(its)


def _lr_oracle() -> str:
    """Unrolled-CTE DuckDB oracle for the 4-iteration hard-sigmoid
    GD trainer: weights carried as BIGINT micros in 1-row CTEs, each
    iteration one micro-quantized gradient aggregate — the
    kmeans/BPE unrolled-iteration pattern."""
    p_expr = _LR_P_EXPR
    return f"""
    WITH {_LR_FEAT_CTE},{_lr_iter_ctes(4)},
    acc AS (
      SELECT COUNT(*) AS n,
             SUM(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
               AS correct
      FROM (SELECT f.*, {p_expr} AS p FROM feat f, it4 i)
    )
    SELECT param, CAST(value AS BIGINT) AS value FROM (
      SELECT 'bias' AS param, b AS value FROM it4
      UNION ALL SELECT 'w1', w1 FROM it4
      UNION ALL SELECT 'w2', w2 FROM it4
      UNION ALL SELECT 'w3', w3 FROM it4
      UNION ALL SELECT 'n', n FROM acc
      UNION ALL SELECT 'train_correct', correct FROM acc
    )
    """


@register("lr_quality_train_docs", _lr_oracle())
def lr_quality_train_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model training as a first-class engine operation:
    a hard-sigmoid linear classifier (predicting lang == 'en' from
    exact-rational length/shape features — the quality-classifier
    TRAINING MECHANICS, with a deliberately simple target) fit by
    4 rounds of batch gradient descent, each round ONE map-side-
    combining aggregate + a 1-row driver sync (operators/corpus.
    train_linear_classifier — the Lloyd/BPE iterative shape).
    Deterministic and ORACLE-PAIRED end to end: integer-micro
    weights, micro-quantized BIGINT gradient sums (summation order
    can never move a bit), a transcendental-free link (libm exp
    differs across engines by ulps; clamp(0.25z+0.5) does not), and
    half-away rounding on both sides. The DuckDB oracle replays all
    4 iterations as unrolled CTEs and hash-matches weights, row
    count, and training accuracy."""
    from ..operators import corpus as C

    # widen by doc_id BEFORE the feature projection: the normalize/
    # split/array_distinct chain ran single-task on the one-file
    # corpus (a round-robin widen just before the checkpoint came
    # AFTER it), and id clustering co-partitions the feature<->label
    # self-join
    docs = widen_narrow_source(
        load(spark, sf_dir, "documents"), "doc_id", probe=False
    )
    feats = C.classifier_features(docs).join(
        docs.select(
            F.col("doc_id").alias("id"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        ),
        "id",
    )
    # 5 passes share one materialization; parallel by construction
    feats = feats.localCheckpoint(eager=False)
    model = C.train_linear_classifier(feats, n_iter=4)
    w = model["weights_micro"]
    return spark.createDataFrame(
        [
            ("bias", w[0]), ("w1", w[1]), ("w2", w[2]), ("w3", w[3]),
            ("n", model["n"]), ("train_correct", model["train_correct"]),
        ],
        "param string, value long",
    )


from ..operators.corpus import SAMPLE_HASH_SQL as _SAMPLE_HASH_SQL  # noqa: E402


@register(
    "quality_weighted_sample_docs",
    f"""
    WITH {{_LR_FEAT_CTE}},{{_LR_ITERS}},
    scored AS (
      SELECT f.doc_id, {{_LR_P_EXPR}} AS p FROM feat f, it4 i
    )
    SELECT doc_id, ROUND(p, 6) AS keep_score
    FROM scored
    WHERE {{_HASH}} < ROUND(p * 1000.0, 0)
    """.replace("{_LR_FEAT_CTE}", _LR_FEAT_CTE)
    .replace("{_LR_ITERS}", _lr_iter_ctes(4))
    .replace("{_LR_P_EXPR}", _LR_P_EXPR)
    .replace("{_HASH}", _SAMPLE_HASH_SQL("doc_id")),
)
def quality_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-weighted corpus sampling (operators/corpus.
    quality_weighted_sample): train the 4-round-GD quality model,
    then keep each document with probability equal to its score —
    the quality-weighted retention step modern corpus-curation
    pipelines run after classifier scoring, here fully deterministic
    (the coin is the id's permille hash bucket, the score is the
    bit-exact hard-sigmoid) and therefore STRICT-oracle-paired: the
    DuckDB oracle replays the 4 training iterations AND the same
    bucket-vs-ROUND(score*1000) test. Scale shape: training is
    n_iter one-aggregate passes; the sample itself is one map-side
    filter, no shuffle, no RNG state."""
    from ..operators import corpus as C

    # widen by doc_id BEFORE the feature projection (the
    # lr_quality_train_docs shape): parallel feature compute +
    # co-partitioned label join, one shared materialization
    docs = widen_narrow_source(
        load(spark, sf_dir, "documents"), "doc_id", probe=False
    )
    feats = C.classifier_features(docs).join(
        docs.select(
            F.col("doc_id").alias("id"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        ),
        "id",
    )
    feats = feats.localCheckpoint(eager=False)
    model = C.train_linear_classifier(feats, n_iter=4)
    scored = feats.select(
        F.col("id").alias("doc_id"),
        C.linear_score(model["weights_micro"]).alias("p"),
    )
    return C.quality_weighted_sample(scored, "doc_id", "p").select(
        "doc_id", F.round("p", 6).alias("keep_score")
    )


@register(
    "dedup_keep_best_scored",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh_cut a JOIN sh_cut b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT id1, id2 FROM common
        JOIN sizes s1 ON common.id1 = s1.doc_id
        JOIN sizes s2 ON common.id2 = s2.doc_id
      WHERE CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {{JACCARD_THRESHOLD}}
    ),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION SELECT id2, id1 FROM pairs
    ),
    reach(id, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
    ),
    clusters AS (
      SELECT id AS doc_id, MIN(root) AS cluster_id FROM reach GROUP BY id
    ),{{_LR_FEAT_CTE}},{{_LR_ITERS}},
    model_scored AS (
      SELECT f.doc_id, {{_LR_P_EXPR}} AS p FROM feat f, it4 i
    ),
    ranked AS (
      SELECT c.cluster_id, s.doc_id, s.p,
             ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                ORDER BY s.p DESC, s.doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
      FROM clusters c JOIN model_scored s USING (doc_id)
    )
    SELECT cluster_id, doc_id AS keeper_id, ROUND(p, 6) AS keeper_score,
           cluster_size
    FROM ranked WHERE rn = 1
    """.replace("{JACCARD_THRESHOLD}", str(JACCARD_THRESHOLD))
    .replace("{_LR_FEAT_CTE}", _LR_FEAT_CTE)
    .replace("{_LR_ITERS}", _lr_iter_ctes(4))
    .replace("{_LR_P_EXPR}", _LR_P_EXPR),
)
def dedup_keep_best_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-WEIGHTED dedup survivorship (the r09 verdict's stretch
    ask): when a near-dup cluster collapses, keep the member the
    TRAINED quality model scores highest — dedup_cluster_keep_best's
    hand-picked n_chars rank replaced by lr_quality_train_docs'
    4-round-GD classifier. Deterministic end to end, so even the
    model-in-the-loop pipeline is STRICT-oracle-paired: the GD
    weights are a deterministic fixpoint (integer-micro updates), the
    hard-sigmoid score is transcendental-free left-assoc double
    arithmetic over exact-rational features (bit-identical on every
    engine — operators/corpus.linear_score), and ties break to the
    lowest doc id. The DuckDB oracle replays the cluster chain AND
    all 4 training iterations as unrolled CTEs, then ranks by the
    same score. Scale shape: training is n_iter one-aggregate passes
    (Lloyd/BPE economics), scoring is one map-side projection, and
    survivorship is one window over cluster-sized groups — the
    model never joins row-pairs."""
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs, k=SHINGLE_K, threshold=JACCARD_THRESHOLD)
    clusters = D.connected_components(
        pairs, docs.select("doc_id"), id_col="doc_id"
    )
    feats = C.classifier_features(docs).join(
        docs.select(
            F.col("doc_id").alias("id"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        ),
        "id",
    )
    # 4 GD passes + scoring share one materialization
    feats = widen_narrow_source(feats).localCheckpoint(eager=False)
    model = C.train_linear_classifier(feats, n_iter=4)
    scored = feats.select(
        F.col("id").alias("doc_id"),
        C.linear_score(model["weights_micro"]).alias("p"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("p").desc(), F.col("doc_id").asc()
    )
    return (
        clusters.join(scored, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("keeper_id"),
            F.round("p", 6).alias("keeper_score"),
            "cluster_size",
        )
    )


@register(
    "ann_topk_batch",
    """
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings
      WHERE vec_id < 10 AND list_dot_product(embedding, embedding) > 0
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE list_dot_product(embedding, embedding) > 0
    ), scored AS (
      SELECT qid, vec_id,
             ROUND(list_dot_product(list_transform(v, x -> ROUND(x * 1000000.0, 0)), list_transform(qv, x -> ROUND(x * 1000000.0, 0))) / (SQRT(list_dot_product(list_transform(v, x -> ROUND(x * 1000000.0, 0)), list_transform(v, x -> ROUND(x * 1000000.0, 0)))) * SQRT(list_dot_product(list_transform(qv, x -> ROUND(x * 1000000.0, 0)), list_transform(qv, x -> ROUND(x * 1000000.0, 0))))), 4) + 0.0 AS cosine
      FROM e, q WHERE vec_id <> qid
    )
    SELECT qid, vec_id, cosine FROM (
      SELECT qid, vec_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def ann_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched similarity search: top-5 neighbors for EACH of the
    first 10 query vectors in one plan — broadcast the query block,
    score all pairs, windowed top-k per query. The realistic
    many-query ANN shape (one scan serves the whole query batch)."""
    # zero-norm guard on BOTH sides (cosine_topk's NaN/ANSI rationale)
    nonzero = F.aggregate(
        F.col("embedding"),
        F.lit(0.0),
        lambda a, x: a + x.cast("double") * x,
    ) > 0
    emb = load(spark, sf_dir, "embeddings").filter(nonzero).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # quantize + norm ONCE per row on each side; the per-pair work is
    # then a single codegen'd folded dot (HOF cosines are interpreted)
    dim = S._dim_of(emb, "v")
    # norm folded over the RAW vector + a materialization boundary:
    # otherwise Catalyst inlines the interpreted vq transform into
    # every element_at of the pair dot (the projection-collapse trap)
    _t = [
        f"ROUND(element_at(v, {i}) * 1000000.0D, 0)"
        for i in range(1, dim + 1)
    ]
    nq_expr = F.sqrt(
        F.expr(" + ".join(["0.0D"] + [f"{t} * {t}" for t in _t]))
    )
    eq = (
        emb.withColumn("vq", S._vq("v"))
        .withColumn("nq", nq_expr)
        .localCheckpoint(eager=False)
    )
    q = eq.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("vq").alias("qvq"),
        F.col("nq").alias("qnq"),
    )
    scored = (
        eq.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            # quantized-exact cosine + zero-sign normalization (the
            # r09 cross-engine bit-stability doctrine, SCALE.md)
            (
                F.round(
                    S._dotq_cols("vq", "qvq", dim)
                    / (F.col("nq") * F.col("qnq")),
                    4,
                )
                + F.lit(0.0)
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vec_id", "cosine")
    )


@register(
    "ann_ivf_topk",
    f"""
    WITH c AS (
      SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 8
    ), e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), q AS (
      SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    ), assign AS (
      SELECT e.vec_id, e.v,
             arg_max(c.cid, {_COS_Q_SQL.format(a='e.v', b='c.cv')}) AS cid
      FROM e CROSS JOIN c GROUP BY e.vec_id, e.v
    ), probes AS (
      SELECT cid FROM c, q
      ORDER BY {_COS_Q_SQL.format(a='c.cv', b='qv')} DESC, cid LIMIT 2
    )
    SELECT vec_id, ROUND(c6, 4) + 0.0 AS cosine FROM (
      SELECT a.vec_id,
             ROUND({_COS_Q_SQL.format(a='a.v', b='qv')}, 6) + 0.0 AS c6
      FROM assign a JOIN probes p ON a.cid = p.cid, q
      ORDER BY c6 DESC, vec_id LIMIT 10
    )
    ORDER BY ROUND(c6, 4) + 0.0 DESC, vec_id
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: vectors assigned to nearest of 8 seed centroids
    (embedding rows 0-7 — a deterministic codebook, so the whole
    approximate search is oracle-paired), probe the 2 closest to the
    query. Recall vs the exact baseline is unit-tested
    (tests/test_similarity.py)."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = _query_vector(spark, sf_dir, 0)
    seeds = (
        emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    )
    centroids = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seeds]
    out = S.ivf_topk(emb, q, centroids, k=10, n_probe=2)
    return out.select(
        "vec_id", (F.round("cosine", 4) + F.lit(0.0)).alias("cosine")
    ).orderBy(F.col("cosine").desc(), F.col("vec_id"))


# PQ parameters: 64-dim embeddings -> 4 subspaces x 16 dims, 4 seed
# centroids per subspace (2-bit codes; production would use k=256).
_PQ_M = 4
_PQ_K = 4
_PQ_SUB = 16

# Shared oracle CTE chain: seed codebooks (first k by vec_id, the
# ann_ivf_topk deterministic-codebook precedent), per-subspace slices
# (DuckDB list slices are 1-based inclusive), integer-micro argmin-L2
# encode keys (||c||^2 - 2<x_s,c>; ||x_s||^2 is row-constant), codes
# by (key, cid) tie-break — the SQL twin of operators/similarity.
# pq_encode.
_PQ_CODES_CTE = f"""
    e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE list_dot_product(embedding, embedding) > 0
    ),
    seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
            FROM embeddings ORDER BY vec_id LIMIT {_PQ_K})
    ),
    cb AS (
      SELECT t.i AS s, cid,
             v[t.i*{_PQ_SUB}+1 : t.i*{_PQ_SUB}+{_PQ_SUB}] AS c
      FROM seeds, range(0, {_PQ_M}) t(i)
    ),
    keys AS (
      SELECT e.vec_id, cb.s, cb.cid,
             CAST(ROUND((list_dot_product(cb.c, cb.c)
                 - 2*list_dot_product(
                       e.v[cb.s*{_PQ_SUB}+1 : cb.s*{_PQ_SUB}+{_PQ_SUB}], cb.c))
                 * 1000000, 0) AS BIGINT) AS kq
      FROM e CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY kq ASC, cid ASC) AS rn
        FROM keys) WHERE rn = 1
    )
"""


@register(
    "pq_codes_embeddings",
    f"""
    WITH {_PQ_CODES_CTE}
    SELECT c.vec_id,
           MAX(CASE WHEN s = 0 THEN cid END) AS c0,
           MAX(CASE WHEN s = 1 THEN cid END) AS c1,
           MAX(CASE WHEN s = 2 THEN cid END) AS c2,
           MAX(CASE WHEN s = 3 THEN cid END) AS c3,
           CAST(SUM(CASE s WHEN 0 THEN cid WHEN 1 THEN cid*{_PQ_K}
                    WHEN 2 THEN cid*{_PQ_K * _PQ_K}
                    ELSE cid*{_PQ_K ** 3} END) AS BIGINT) AS pq_code,
           ROUND(MAX(n.nrm), 6) AS norm
    FROM codes c JOIN (
      SELECT vec_id, SQRT(list_dot_product(v, v)) AS nrm FROM e) n
      USING (vec_id)
    GROUP BY c.vec_id
    """,
)
def pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode of the embedding corpus
    (operators/similarity.pq_encode; Jegou et al. TPAMI 2011): per
    subspace the argmin-L2 seed centroid, packed into a base-k code
    word, with the exact vector norm retained for ADC cosine search.
    Map-side pure expressions — the 100 TB encode is ONE pass
    writing m bytes + a double per vector (16-64x memory-bandwidth
    reduction for every query after). Value-oracle-paired via
    integer-micro encode keys; Lloyd-TRAINED codebooks
    (pq_codebooks_trained) are the quality path, recall-tested in
    tests/test_similarity.py."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    books = S.pq_codebooks_seed(emb, m=_PQ_M, k=_PQ_K)
    out = S.pq_encode(emb, books)
    return out.select(
        "vec_id", "c0", "c1", "c2", "c3", "pq_code",
        F.round("norm", 6).alias("norm"),
    )


@register(
    "pq_topk_embeddings",
    f"""
    WITH {_PQ_CODES_CTE},
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
          WHERE vec_id = 0),
    lut AS (
      SELECT cb.s, cb.cid,
             CAST(ROUND(list_dot_product(
                 q.qv[cb.s*{_PQ_SUB}+1 : cb.s*{_PQ_SUB}+{_PQ_SUB}], cb.c)
                 * 1000000, 0) AS BIGINT) AS dmic
      FROM cb, q
    ),
    score AS (
      SELECT c.vec_id, CAST(SUM(l.dmic) AS BIGINT) AS amic
      FROM codes c JOIN lut l ON c.s = l.s AND c.cid = l.cid
      GROUP BY c.vec_id
    ),
    qn AS (SELECT SQRT(list_dot_product(qv, qv)) AS qnorm FROM q)
    SELECT vec_id, ROUND(ac, 4) AS approx_cosine FROM (
      SELECT s.vec_id,
             (s.amic / 1000000.0) / (qn.qnorm * n.nrm) AS ac
      FROM score s JOIN (
        SELECT vec_id, SQRT(list_dot_product(v, v)) AS nrm FROM e) n
        USING (vec_id), qn
      WHERE s.vec_id <> 0
      ORDER BY ROUND(ac, 6) DESC, vec_id LIMIT 10
    )
    ORDER BY ROUND(ac, 4) DESC, vec_id
    """,
)
def pq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (operators/similarity.pq_topk):
    the query stays exact; each corpus vector contributes m
    lookup-table reads (integer micro-units summed as BIGINTs —
    summation order can never move a bit) divided by the exact
    stored norm. Completes the ANN ladder: brute force (exact
    baseline) -> IVF (scan pruning) -> PQ (memory-bandwidth
    compression); recall vs the exact scan is measured in
    tests/test_similarity.py."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = _query_vector(spark, sf_dir, 0)
    books = S.pq_codebooks_seed(emb, m=_PQ_M, k=_PQ_K)
    out = S.pq_topk(emb, q, books, k=10, exclude_id=0)
    return out.select(
        "vec_id", F.round("approx_cosine", 4).alias("approx_cosine")
    ).orderBy(F.round(F.col("approx_cosine"), 4).desc(), F.col("vec_id"))


# ---------------------------------------------------------------------------
# Strict CTE replays for the trained-quantizer ANN family (r14)
# ---------------------------------------------------------------------------
# The r12 hll_union / r13 approx_distinct_parts precedent, applied to
# the last bounded-error family: the ENGINE's answer is exactly
# replayable even though the answer itself approximates the true
# top-k. Every stage of the Spark pipeline is already deterministic
# integer/quantized arithmetic (seed rounding at 1e-6, quantized
# Lloyd assignments with id tie-breaks, integer-micro centroid means,
# BIGINT ADC lookup tables, exact-rounded sqrt/div) — so both Lloyd
# trainings, the encode, the ADC shortlist and the exact re-rank
# unroll into DuckDB CTEs that hash-match bit for bit (verified at
# sf0.001/sf0.01/sf0.1 in r14). Recall floors vs the true cosine
# top-k stay in pytest (tests/test_similarity.py,
# test_ann_catalog_recall_floors) — the gate now checks WHAT the
# engine computed, pytest checks that it is a GOOD approximation.

_PQ_SIMQ6 = (
    "ROUND(list_dot_product({v}, {c}) / "
    "(SQRT(list_dot_product({v}, {v})) * "
    "SQRT(list_dot_product({c}, {c}))), 6)"
)


def _pq_l2_key_sql(vexpr: str, cexpr: str) -> str:
    """The quantized L2 compare key — DuckDB twin of
    similarity._l2_keys_hof's ROUND((cc - 2<x,c>) * 1e6) BIGINT
    (list_dot_product is the same left-assoc double fold)."""
    return (
        f"CAST(ROUND((list_dot_product({cexpr}, {cexpr}) - 2 * "
        f"list_dot_product({vexpr}, {cexpr})) * 1000000, 0) AS BIGINT)"
    )


def _pq_kmeans_iter_ctes(eview: str, prev: str, pfx: str, idx: int, dim: int) -> str:
    """One unrolled COSINE-Lloyd iteration over relation
    ``eview(vec_id, v)`` with centroid relation ``prev(cid, c)`` —
    the kmeans_fit replay (quantized round-6 cosine argmax, ties to
    lowest cid; per-dim integer-micro sums; ratio-rounded means;
    empty cluster keeps its centroid). Generalized form of
    _kmeans_iter_sql for arbitrary k/dim/CTE names."""
    simq = _PQ_SIMQ6.format(v="ei.v", c="c.c")
    return f"""
    {pfx}a{idx} AS (
      SELECT vec_id, cid FROM (
        SELECT ei.vec_id, c.cid,
               ROW_NUMBER() OVER (PARTITION BY ei.vec_id
                   ORDER BY {simq} DESC, c.cid ASC) AS rn
        FROM {eview} ei CROSS JOIN {prev} c) WHERE rn = 1
    ),
    {pfx}s{idx} AS (
      SELECT a.cid, t.i AS i,
             SUM(CAST(ROUND(e2.v[t.i + 1] * 1000000, 0) AS BIGINT)) AS sm,
             COUNT(*) AS n
      FROM {pfx}a{idx} a JOIN {eview} e2 USING (vec_id), range(0, {dim}) t(i)
      GROUP BY a.cid, t.i
    ),
    {pfx}c{idx} AS (
      SELECT c.cid, COALESCE(mm.c, c.c) AS c
      FROM {prev} c LEFT JOIN (
        SELECT cid,
               list(CAST((CASE WHEN sm < 0 THEN -1 ELSE 1 END) *
                         ((2 * ABS(sm) + n) // (2 * n)) AS DOUBLE)
                    / 1000000.0 ORDER BY i) AS c
        FROM {pfx}s{idx} GROUP BY cid) mm USING (cid)
    )"""


def _pq_slice_cte(eview: str, name: str, m: int, sub: int, vcol: str) -> str:
    """Narrow subvector relation ``name(vec_id, s, sv)`` — every
    subspace slice computed ONCE up front, so the training/encode
    joins below carry only sub-length lists. The r14 sf1 lesson:
    DuckDB's per-row list allocations on a (vectors x books) join
    that drags the full 64-double vector through every comparison
    blow past any memory_limit at 20k vectors; the sliced form peaks
    in the tens of MB and is faster at every sf (bit-identical —
    list_slice is the same values either way)."""
    return f"""
    {name} AS MATERIALIZED (
      SELECT vec_id, t.s AS s,
             list_slice({vcol}, t.s*{sub}+1, t.s*{sub}+{sub}) AS sv
      FROM {eview}, range(0, {m}) t(s)
    )"""


def _pq_train_iter_ctes(
    slview: str, prev: str, pfx: str, idx: int, sub: int
) -> str:
    """One unrolled JOINT-PQ L2-Lloyd iteration (pq_codebooks_trained
    replay) over the SLICED relation ``slview(vec_id, s, sv)`` with
    subspace books ``prev(s, cid, c)``: per (vector, subspace) the
    MIN([l2_key, cid]) assignment (= array_min of the struct keys —
    lowest key, ties to lowest cid), then per-(s, cid, j)
    integer-micro component sums and ratio-rounded means."""
    key = _pq_l2_key_sql("ei.sv", "b.c")
    return f"""
    {pfx}a{idx} AS MATERIALIZED (
      SELECT vec_id, s, mk[2] AS cid FROM (
        SELECT ei.vec_id, ei.s,
               MIN([{key}, CAST(b.cid AS BIGINT)]) AS mk
        FROM {slview} ei JOIN {prev} b ON b.s = ei.s
        GROUP BY ei.vec_id, ei.s)
    ),
    {pfx}s{idx} AS (
      SELECT a.s, a.cid, t.j,
             SUM(CAST(ROUND(x.sv[t.j + 1] * 1000000, 0)
                      AS BIGINT)) AS sm,
             COUNT(*) AS n
      FROM {pfx}a{idx} a
      JOIN {slview} x ON a.vec_id = x.vec_id AND a.s = x.s,
           range(0, {sub}) t(j)
      GROUP BY a.s, a.cid, t.j
    ),
    {pfx}b{idx} AS MATERIALIZED (
      SELECT b.s, b.cid, COALESCE(mm.c, b.c) AS c
      FROM {prev} b LEFT JOIN (
        SELECT s, cid,
               list(CAST((CASE WHEN sm < 0 THEN -1 ELSE 1 END) *
                         ((2 * ABS(sm) + n) // (2 * n)) AS DOUBLE)
                    / 1000000.0 ORDER BY j) AS c
        FROM {pfx}s{idx} GROUP BY s, cid) mm USING (s, cid)
    )"""


def _pq_seed_ctes(eview: str, pfx: str, m: int, k: int, sub: int, vcol: str = "v") -> str:
    """Seed-book CTEs: the k smallest-id vectors of ``eview``,
    components rounded half-away at 1e-6 (ROUND(x, 6) — the
    kmeans_fit/_seed_round twin), sliced into m subspaces."""
    return f"""
    {pfx}seeds AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform({vcol}, x -> ROUND(x, 6)) AS c
      FROM {eview} ORDER BY vec_id LIMIT {k}
    ),
    {pfx}b0 AS (
      SELECT t.s, cid, list_slice(c, t.s*{sub}+1, t.s*{sub}+{sub}) AS c
      FROM {pfx}seeds, range(0, {m}) t(s)
    )"""


def _pq_trained_oracle() -> str:
    """Full replay of pq_topk_trained_embeddings: joint L2-Lloyd
    training (m=16 x k=16, 2 iterations) over ALL vectors, encode of
    the live (non-zero-norm) vectors, BIGINT ADC lookup-table scores
    vs the vec_id=0 query, the round-6-ranked top-50 shortlist, and
    the exact quantized-cosine re-rank to the top 10."""
    m, sub, k = 16, 4, 16
    enc_key = _pq_l2_key_sql("ei.sv", "b.c")
    return f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    el AS MATERIALIZED (
      SELECT vec_id, v FROM e WHERE list_dot_product(v, v) > 0
    ),
    {_pq_slice_cte('e', 'sl', m, sub, 'v')},
    {_pq_seed_ctes('e', 'p', m, k, sub)},
    {_pq_train_iter_ctes('sl', 'pb0', 'p', 1, sub)},
    {_pq_train_iter_ctes('sl', 'pb1', 'p', 2, sub)},
    enc AS (
      SELECT vec_id, s, mk[2] AS cid FROM (
        SELECT ei.vec_id, ei.s,
               MIN([{enc_key}, CAST(b.cid AS BIGINT)]) AS mk
        FROM sl ei
        JOIN el ON ei.vec_id = el.vec_id
        JOIN pb2 b ON b.s = ei.s
        GROUP BY ei.vec_id, ei.s)
    ),
    lut AS (
      SELECT b.s, b.cid,
             CAST(ROUND(list_dot_product(
                 list_slice(q.qv, b.s*{sub}+1, b.s*{sub}+{sub}), b.c)
                 * 1000000, 0) AS BIGINT) AS t
      FROM pb2 b, q
    ),
    adc AS (
      SELECT vec_id, SUM(t) AS am FROM enc JOIN lut USING (s, cid)
      GROUP BY vec_id
    ),
    sc AS (
      SELECT a.vec_id,
             CAST(a.am AS DOUBLE) / 1000000.0 /
             (SQRT(list_dot_product(q.qv, q.qv)) *
              SQRT(list_dot_product(el.v, el.v))) AS ac
      FROM adc a JOIN el USING (vec_id), q
      WHERE a.vec_id <> 0
    ),
    short AS (
      SELECT vec_id FROM sc ORDER BY ROUND(ac, 6) DESC, vec_id LIMIT 50
    ),
    rr AS (
      SELECT el.vec_id,
             ROUND({_COS_Q_SQL.format(a='el.v', b='q.qv')}, 6) + 0.0 AS c6
      FROM el JOIN short USING (vec_id), q
      WHERE el.vec_id <> 0
    )
    SELECT vec_id, ROUND(c6, 6) AS cosine FROM rr
    ORDER BY c6 DESC, vec_id LIMIT 10
    """


def _ivfpq_oracle() -> str:
    """Full replay of the IVFADC+R triple (ann_ivfpq_topk =
    ann_ivfpq_indexed = streaming_ivfpq_ingest_embeddings — identical
    quantizer math, one training vs persisted vs stream-ingested
    codes; equality asserted in tests): coarse cosine-Lloyd (k=8,
    2 iterations) over ALL vectors, quantized-cosine cell assignment
    of the live vectors (ties to HIGHEST cid — array_max's struct
    rule), residuals r = x - c(x), joint residual-PQ L2-Lloyd
    (m=8 x k=16, 2 iterations), the n_probe=4 coarse prune,
    <q,c_cell> + ADC BIGINT scores, round-6-ranked top-100 shortlist,
    exact quantized-cosine re-rank to the top 10."""
    kc, dim = 8, 64
    m, sub, ksub = 8, 8, 16
    enc_key = _pq_l2_key_sql("ei.sv", "b.c")
    return f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    el AS (SELECT vec_id, v FROM e WHERE list_dot_product(v, v) > 0),
    cc0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform(v, x -> ROUND(x, 6)) AS c
      FROM e ORDER BY vec_id LIMIT {kc}
    ),
    {_pq_kmeans_iter_ctes('e', 'cc0', 'k', 1, dim)},
    {_pq_kmeans_iter_ctes('e', 'kc1', 'k', 2, dim)},
    cc2 AS (SELECT cid, c FROM kc2),
    cell AS (
      SELECT vec_id, mk[2] AS cid FROM (
        SELECT ei.vec_id,
               MAX([{_COS_Q_SQL.format(a='ei.v', b='c.c')},
                    CAST(c.cid AS DOUBLE)]) AS mk
        FROM el ei CROSS JOIN cc2 c GROUP BY ei.vec_id)
    ),
    rsd AS MATERIALIZED (
      SELECT cell.vec_id,
             list_transform(list_zip(el.v, c.c), z -> z[1] - z[2]) AS rv,
             el.v AS v, CAST(cell.cid AS INT) AS cell_cid
      FROM cell JOIN el USING (vec_id) JOIN cc2 c ON c.cid = cell.cid
    ),
    {_pq_slice_cte('rsd', 'rsl', m, sub, 'rv')},
    {_pq_seed_ctes('rsd', 'p', m, ksub, sub, 'rv')},
    {_pq_train_iter_ctes('rsl', 'pb0', 'p', 1, sub)},
    {_pq_train_iter_ctes('rsl', 'pb1', 'p', 2, sub)},
    probes AS (
      SELECT c.cid FROM cc2 c, q
      ORDER BY {_COS_Q_SQL.format(a='c.c', b='q.qv')} DESC, c.cid ASC
      LIMIT 4
    ),
    pruned AS (SELECT r.* FROM rsd r JOIN probes p ON r.cell_cid = p.cid),
    qc AS (
      SELECT c.cid,
             CAST(ROUND(list_dot_product(q.qv, c.c) * 1000000, 0)
                  AS BIGINT) AS t
      FROM cc2 c, q
    ),
    enc AS (
      SELECT vec_id, s, mk[2] AS cid FROM (
        SELECT ei.vec_id, ei.s,
               MIN([{enc_key}, CAST(b.cid AS BIGINT)]) AS mk
        FROM rsl ei
        JOIN pruned p2 ON ei.vec_id = p2.vec_id
        JOIN pb2 b ON b.s = ei.s
        GROUP BY ei.vec_id, ei.s)
    ),
    lut AS (
      SELECT b.s, b.cid,
             CAST(ROUND(list_dot_product(
                 list_slice(q.qv, b.s*{sub}+1, b.s*{sub}+{sub}), b.c)
                 * 1000000, 0) AS BIGINT) AS t
      FROM pb2 b, q
    ),
    adc AS (
      SELECT vec_id, SUM(t) AS am FROM enc JOIN lut USING (s, cid)
      GROUP BY vec_id
    ),
    sc AS (
      SELECT a.vec_id,
             CAST(a.am + qc.t AS DOUBLE) / 1000000.0 /
             (SQRT(list_dot_product(q.qv, q.qv)) *
              SQRT(list_dot_product(p.v, p.v))) AS ac
      FROM adc a JOIN pruned p USING (vec_id)
           JOIN qc ON qc.cid = p.cell_cid, q
      WHERE a.vec_id <> 0
    ),
    short AS (
      SELECT vec_id FROM sc ORDER BY ROUND(ac, 6) DESC, vec_id LIMIT 100
    ),
    rr AS (
      SELECT el.vec_id,
             ROUND({_COS_Q_SQL.format(a='el.v', b='q.qv')}, 6) + 0.0 AS c6
      FROM el JOIN short USING (vec_id), q
      WHERE el.vec_id <> 0
    )
    SELECT vec_id, ROUND(c6, 6) AS cosine FROM rr
    ORDER BY c6 DESC, vec_id LIMIT 10
    """


def _staged_oracle_form(sql: str, prefix: str) -> str:
    """Rewrite a single-statement WITH-chain oracle into a staged
    CREATE OR REPLACE TEMP TABLE script (same CTE bodies, same final
    SELECT — identical results; duckdb.execute runs the statements
    sequentially and fetches the last). Why: at sf1 (20k vectors)
    DuckDB's planner on the 18-CTE trained-quantizer chain inlines
    multi-referenced CTEs into a tree whose evaluation blows past
    any memory_limit via untracked list allocations (the r14 sf1
    sweep was OOM-killed twice); the staged form evaluates each
    stage once into a bounded temp table (measured: whole pipeline
    173 s / tens of MB at sf1, where the one-statement form dies at
    >90 GB). pytest pins staged == one-statement at sf0.001/sf0.01.
    ``prefix`` namespaces the temp tables per query so a shared
    sweep connection never collides."""
    import re as _re

    i = sql.index("WITH ")
    body = sql[i + 5:]
    ctes = []
    pos = 0
    while True:
        m = _re.match(
            r"\s*([a-zA-Z_0-9]+) AS (MATERIALIZED )?\(", body[pos:]
        )
        if not m:
            break
        name = m.group(1)
        j = pos + m.end() - 1
        depth, k = 0, j
        while True:
            if body[k] == "(":
                depth += 1
            elif body[k] == ")":
                depth -= 1
            if depth == 0:
                break
            k += 1
        ctes.append((name, body[j + 1:k]))
        pos = k + 1
        m2 = _re.match(r"\s*,", body[pos:])
        if not m2:
            break
        pos += m2.end()
    final = body[pos:]
    names = [n for n, _ in ctes]
    def _ns(txt: str) -> str:
        for n in sorted(names, key=len, reverse=True):
            txt = _re.sub(rf"\b{n}\b", f"{prefix}{n}", txt)
        return txt
    stmts = "".join(
        f"CREATE OR REPLACE TEMP TABLE {prefix}{n} AS ({_ns(b)});\n"
        for n, b in ctes
    )
    return stmts + _ns(final)


def _bestap_two_phase(sql: str) -> str:
    """Scaled rewrite of the real-airports pipeline oracle's
    nearest-airport stage: the one-shot min(struct{'d','code',...})
    over telemetry x airports carries a VARCHAR inside every
    aggregate state update — at sf1 (1M rows x 630 candidate
    airports) DuckDB ground >9 min and blew untracked memory. The
    r14 OOM postmortem showed grouped STRUCT-min states are the
    bomb in ANY form (even a fixed-width {'d','k'} struct state blew
    a 24 GB limit at 1M groups x 16 threads), so the scaled form
    uses ONLY flat fixed-width aggregates: phase 1 takes the plain
    MIN(double) distance per (flight, time); phase 2 joins back on
    distance equality and takes MIN(BIGINT) over the 4-byte
    big-endian PACKED airport code (codes are 3-4 alnum chars and
    unique, and the zero-padded pack preserves lexicographic order,
    so min(packed) == the (d, code) tie rule's winner among the
    argmin rows); the winner's attributes return via an equi join
    against the 630-row packed dim. Measured at sf1: 49 s inside a
    24 GB DuckDB cap vs OOM-kill for every struct variant. t
    materializes once as tm so the window chain above it is not
    re-inlined per phase."""
    old = """), bestap AS MATERIALIZED (
  SELECT t.flight, t.time,
    min({'d': abs(t.latitude - a.ap_lat) + abs(t.longitude - a.ap_lon),
         'code': a.airport_code, 'lat': a.ap_lat, 'lon': a.ap_lon,
         'elev': a.ap_elev}) AS b
  FROM t, apt a GROUP BY t.flight, t.time
), ap AS MATERIALIZED (
  SELECT t.*, b.b.code AS airport_code, b.b.lat AS airport_lat,
         b.b.lon AS airport_lon, b.b.elev AS airport_elev
  FROM t JOIN bestap b USING (flight, time)
),"""
    assert old in sql, "bestap block drifted; update _bestap_two_phase"
    new = """), tm AS MATERIALIZED (
  SELECT * FROM t
), apk AS MATERIALIZED (
  SELECT airport_code, ap_lat, ap_lon, ap_elev,
         ascii(substr(airport_code, 1, 1)) * 16777216
         + ascii(substr(airport_code, 2, 1)) * 65536
         + ascii(substr(airport_code, 3, 1)) * 256
         + CASE WHEN length(airport_code) >= 4
                THEN ascii(substr(airport_code, 4, 1)) ELSE 0 END AS k
  FROM apt
), mind AS MATERIALIZED (
  SELECT tm.flight, tm.time,
         MIN(abs(tm.latitude - a.ap_lat)
             + abs(tm.longitude - a.ap_lon)) AS d
  FROM tm, apk a GROUP BY tm.flight, tm.time
), bestk AS MATERIALIZED (
  SELECT tm.flight, tm.time, MIN(a.k) AS k
  FROM tm
  JOIN mind m ON tm.flight = m.flight AND tm.time = m.time
  JOIN apk a
    ON abs(tm.latitude - a.ap_lat) + abs(tm.longitude - a.ap_lon) = m.d
  GROUP BY tm.flight, tm.time
), ap AS MATERIALIZED (
  SELECT tm.*, a.airport_code, a.ap_lat AS airport_lat,
         a.ap_lon AS airport_lon, a.ap_elev AS airport_elev
  FROM tm
  JOIN bestk b ON tm.flight = b.flight AND tm.time = b.time
  JOIN apk a ON a.k = b.k
),"""
    return sql.replace(old, new, 1)


# embedding_neardup_pairs' brute witness re-evaluates six
# list_transform allocations per pair — 2e8 pairs at sf1 ground the
# r14 sweep to a halt. The scaled form precomputes each vector's
# quantized list + norm ONCE (identical doubles: sqrt of the same
# integer dot), then the pair join is one list_dot_product per pair.
# ntile_distribution_orders rounds PERCENT_RANK/CUME_DIST doubles at
# 6 decimals. Spark's round(double, 6) HALF_UPs the SHORTEST-STRING
# decimal form of the double (BigDecimal.valueOf), so a rank ratio
# whose shortest form is an exact 7th-decimal .5 tie (0.5046875 —
# they appear once the partition counts grow to sf1 sizes) rounds UP,
# while DuckDB ROUND(DOUBLE) rounds the BINARY value, which sits a
# hair below the tie, DOWN. The scaled form replays Spark's exact
# semantics: CAST the double to VARCHAR (DuckDB also prints the
# shortest round-trip form) -> DECIMAL -> half-up ROUND -> DOUBLE.
# No tie exists at the gate sfs, so the plain oracle stays the gate
# witness; pytest pins scaled == plain there.
_SPARK_ROUND6 = (
    "CAST(ROUND(CAST(CAST({x} AS VARCHAR) AS DECIMAL(28,12)), 6) "
    "AS DOUBLE)"
)
SCALED_ORACLES["ntile_distribution_orders"] = f"""
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER w AS price_quartile,
           LAST_VALUE(o_orderkey) OVER wf AS cheapest_in_priority,
           {_SPARK_ROUND6.format(x='PERCENT_RANK() OVER w')} AS pct_rank,
           {_SPARK_ROUND6.format(x='CUME_DIST() OVER w')} AS cume
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate < TIMESTAMP '1997-04-01'
    WINDOW w  AS (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey),
           wf AS (PARTITION BY o_orderpriority
                  ORDER BY o_totalprice DESC, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING)
    """

SCALED_ORACLES["embedding_neardup_pairs"] = """
    CREATE OR REPLACE TEMP TABLE enp_n AS (
      SELECT vec_id, vq, SQRT(list_dot_product(vq, vq)) AS nrm
      FROM (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> ROUND(x * 1000000.0, 0)) AS vq
        FROM embeddings
      )
    );
    SELECT a.vec_id AS id1, b.vec_id AS id2,
           ROUND(list_dot_product(a.vq, b.vq) / (a.nrm * b.nrm), 4)
             AS cosine
    FROM enp_n a JOIN enp_n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.vq, b.vq) / (a.nrm * b.nrm) >= 0.35
    """

SCALED_ORACLES["pq_topk_trained_embeddings"] = _staged_oracle_form(
    _pq_trained_oracle(), "pqt_"
)
for _nm, _px in (
    ("ann_ivfpq_topk", "ivq_"),
    ("ann_ivfpq_indexed", "ivi_"),
    ("streaming_ivfpq_ingest_embeddings", "ivs_"),
):
    SCALED_ORACLES[_nm] = _staged_oracle_form(_ivfpq_oracle(), _px)


@register("pq_topk_trained_embeddings", _pq_trained_oracle())
def pq_topk_trained_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ top-k over JOINT L2-Lloyd-trained codebooks (m=16
    subspaces x k=16 centroids, 2 iterations — one job per pass for
    ALL subspaces) with the Jegou et al. ADC shortlist + exact
    re-rank tail (rerank=50): the ADC scan keeps its top-50
    candidate ids, only those 50 rows are re-scored with the exact
    cosine, the true top-10 returned. Training is L2 (the metric
    pq_encode quantizes in — the r06 cosine-trained books scored
    recall 0.1-0.3 because direction-only centroids carry the wrong
    subvector magnitudes), and re-rank is what makes PQ usable on
    this near-random corpus (top-10/median cosine 0.33/0.01):
    ADC-only ordering is noise-limited at ~0.4-0.6 recall, but the
    50-candidate shortlist CONTAINS the true neighbors. STRICT
    oracle since r14 (_pq_trained_oracle): the trained centroids are
    an iterative fixpoint of deterministic integer/quantized
    arithmetic, so both Lloyd iterations, the encode, the ADC
    shortlist and the exact re-rank unroll into DuckDB CTEs that
    hash-match bit for bit — the approx_distinct_parts precedent
    applied to the ANN family. Recall@10 vs the exact cosine top-10
    stays floored at 0.6 in pytest (measured 0.9 at sf0.001, 1.0 at
    sf0.01 — r07 committed run). Scale shape: n_iter+1 training
    passes total (not m*(n_iter+1)), encode/ADC map-side, re-rank a
    broadcast semi-join of 50 ids."""
    # shared checkpointed frame: training and the encode/ADC scan
    # read one materialization instead of two parquet+cast scans
    emb = widen_narrow_source(
        load(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
    ).localCheckpoint(eager=False)
    q = _query_vector(spark, sf_dir, 0)
    books = S.pq_codebooks_trained(
        emb, m=16, k=16, n_iter=2, checkpoint_input=False
    )
    out = S.pq_topk(emb, q, books, k=10, exclude_id=0, rerank=50)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


@register("ann_ivfpq_topk", _ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R (operators/similarity.ivfpq_topk): the COMPLETE
    100 TB ANN architecture — an 8-cell coarse quantizer (cosine
    Lloyd) prunes the scan to n_probe=4 cells, one joint-L2-trained
    product quantizer (m=8 x k=16) over the pooled coarse residuals
    encodes each vector to 8 codes + a norm, ADC reconstructs
    <q,x> = <q,c_cell> + <q,r-hat> from lookup tables, and the
    top-100 shortlist is exactly re-ranked. Completes the ANN
    ladder: brute force -> IVF (scan pruning) -> PQ (bandwidth
    compression) -> IVFADC (both at once). STRICT oracle since r14
    (_ivfpq_oracle): both nested iterative trainings (coarse cosine
    Lloyd + residual PQ L2 Lloyd), the probe prune, the BIGINT ADC
    scores and the exact re-rank unroll into DuckDB CTEs that
    hash-match bit for bit. Recall@10 >= 0.6 vs the exact cosine
    top-10 stays in pytest (measured 1.0 at sf0.001 and 0.9 at
    sf0.01, r07 committed run; 0.7 at sf0.1 where n_probe=4/8 prunes
    hardest against this near-random corpus)."""
    # ONE checkpointed training frame shared by the coarse Lloyd,
    # the residual derivation and the ADC scan (the
    # dedup_keep_best_scored pattern): kmeans_fit's private
    # checkpoint and ivfpq_topk's raw re-scan each re-materialized
    # the same parquet+cast — pure fixed latency in this
    # training-in-query twin (the persisted-index production path is
    # ann_ivfpq_indexed)
    emb = widen_narrow_source(
        load(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
    ).localCheckpoint(eager=False)
    q = _query_vector(spark, sf_dir, 0)
    coarse = S.kmeans_fit(emb, k=8, n_iter=2, checkpoint_input=False)
    out = S.ivfpq_topk(
        emb, q, coarse,
        m=8, k_sub=16, n_iter=2,
        k=10, n_probe=4, rerank=100, exclude_id=0,
        input_parallel=True,
    )
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


# One source of truth for the persisted-index content-key version +
# quantizer params. tools/ann_recall_sweep.py imports _ivfpq_tag so
# the committed recall curve is measured on the SAME index store the
# catalog queries probe (an earlier hardcoded 'ivfpq-v1' sweep tag
# silently measured a parallel store after the catalog moved to v2).
# v3: r10 moved the driver-side seed/LUT quantizers to exact
# half-away rounding (round_half_away) — identical on all gate data,
# but the content-key contract says ANY quantizer-params change
# rebuilds rather than silently reusing a stale store
IVFPQ_TAG_VERSION = "ivfpq-v3"


def _ivfpq_tag(
    k_coarse: int = 8, m: int = 8, k_sub: int = 16, n_iter: int = 2
) -> str:
    return f"{IVFPQ_TAG_VERSION}:k{k_coarse}:m{m}:ks{k_sub}:it{n_iter}"


def _ivfpq_index_path(sf_dir: str, tag_version: str) -> str:
    """Content-keyed index location under the per-user scratch base
    (_scratch_dir): keyed on the embeddings parquet's mtime+size (the
    _telemetry_fixture invalidation rule) plus a params-version
    string, so testdata regeneration or a quantizer-params change
    rebuilds the index and a replay is a no-op."""
    import hashlib
    import os

    src = os.path.realpath(f"{sf_dir}/embeddings.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"{tag_version}:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    return os.path.join(_scratch_dir(), f"spark_graft_ivfpq_idx_{tag}")


def _ensure_ivfpq_index(emb: DataFrame, path: str, **params) -> None:
    """Build the persisted index iff absent, ATOMICALLY: train/write
    into a pid-suffixed sibling dir, then os.rename onto the final
    path. Two sessions racing the build (bench + tests) each produce
    a complete private candidate; exactly one rename wins (rename
    onto an existing non-empty dir fails with ENOTEMPTY) and the
    loser discards its candidate — a probe can therefore NEVER
    observe a half-built or mid-overwrite store at ``path``. The
    meta-written-last commit marker still guards the candidate dirs
    themselves."""
    import os
    import shutil

    if os.path.exists(os.path.join(path, S.IVFPQ_META_FILE)):
        return
    tmp = f"{path}.build-{os.getpid()}"
    S.write_ivfpq_index(emb, tmp, **params)
    try:
        os.rename(tmp, path)
        return
    except OSError:
        pass
    # rename failed because path exists. Usually that means we lost
    # the race and the winner's index is content-identical (same
    # corpus key, same params, deterministic training) — but it can
    # also be a STALE meta-less directory from a crashed pre-atomic
    # build, which would otherwise make every future call discard its
    # good candidate and then fail reading the meta, forever. Verify
    # the commit marker; repair by clearing the junk and retrying.
    if os.path.exists(os.path.join(path, S.IVFPQ_META_FILE)):
        shutil.rmtree(tmp, ignore_errors=True)
        return
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rename(tmp, path)
    except OSError:
        # a concurrent repair won the second race; trust its result
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, S.IVFPQ_META_FILE)):
            raise RuntimeError(
                f"index build could not commit to {path}: directory "
                "exists without a meta commit marker and could not be "
                "replaced"
            )


@register("ann_ivfpq_indexed", _ivfpq_oracle())
def ann_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R against a PERSISTED index (operators/similarity.
    write_ivfpq_index / ivfpq_topk_indexed): identical quantizer
    math to ann_ivfpq_topk, but the two Lloyd trainings run ONCE at
    index-build time — the query itself loads the few-KB quantizer
    meta, partition-prunes the codes store to n_probe=4 of 8 coarse
    cells, ADC-scores the stored codes, and exactly re-ranks a
    100-id broadcast shortlist against the raw vectors. This is the
    'index built once, queried many' economics every production ANN
    deployment runs on; ann_ivfpq_topk (training-in-query) remains
    the self-contained twin. The index dir is content-keyed on the
    source parquet, so the first run per corpus builds it and every
    later run is probe-only. STRICT oracle since r14: shares
    _ivfpq_oracle with ann_ivfpq_topk (identical quantizers =>
    identical results; asserted in tests/test_similarity.py); the
    0.6 recall floor lives in pytest."""
    import os

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = _query_vector(spark, sf_dir, 0)
    path = _ivfpq_index_path(sf_dir, _ivfpq_tag())
    _ensure_ivfpq_index(emb, path, k_coarse=8, m=8, k_sub=16, n_iter=2)
    out = S.ivfpq_topk_indexed(
        spark, path, q, k=10, n_probe=4, rerank=100, emb=emb, exclude_id=0
    )
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


@register("streaming_ivfpq_ingest_embeddings", _ivfpq_oracle())
def streaming_ivfpq_ingest_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ANN-index ingestion end-to-end (streaming/
    foreach_batch.stream_ivfpq_ingest): quantizers are trained ONCE
    (reusing ann_ivfpq_indexed's persisted index meta — the offline
    train / online ingest split), then the embeddings table arrives
    as a file STREAM whose micro-batches are encoded map-side and
    written to a batch-keyed, cell-partitioned codes store via
    foreachBatch; the final probe searches THAT store. Connects the
    two surfaces the catalog exercised separately: the foreachBatch
    upsert sink family and the persisted IVFADC index. Convergence
    contract: after availableNow drains the stream, the streamed
    store holds exactly the codes the batch writer would produce
    (same quantizers, same deterministic encode), so the probe
    shares _ivfpq_oracle (STRICT since r14) with the batch twins and
    the equality test in tests/test_streaming.py holds; the 0.6
    recall floor lives in pytest. Fixture
    dirs are content-keyed: a replay over an existing checkpoint
    emits nothing and leaves the same converged store."""
    import os

    from ..streaming.foreach_batch import stream_ivfpq_ingest

    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = _query_vector(spark, sf_dir, 0)
    # train-once: the same persisted index (and meta) ann_ivfpq_indexed uses
    idx_path = _ivfpq_index_path(sf_dir, _ivfpq_tag())
    _ensure_ivfpq_index(emb, idx_path, k_coarse=8, m=8, k_sub=16, n_iter=2)
    meta = S.read_ivfpq_meta(idx_path)

    # single-file source dir => exactly one availableNow micro-batch
    src = os.path.realpath(f"{sf_dir}/embeddings.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    # the streamed codes/checkpoint stores are keyed by the SAME
    # quantizer-params tag as the batch index (_ivfpq_tag): a
    # quantizer version bump that rebuilds the batch index must also
    # invalidate the streamed store, or a pre-existing codes dir
    # encoded under the old quantizers would be silently reused (the
    # checkpoint makes replays no-ops) and probed against the new meta
    tag = __import__("hashlib").md5(
        f"ivfpq-stream-v1:{_ivfpq_tag()}:{src}:"
        f"{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    stream_src = os.path.join(_scratch_dir(), f"spark_graft_emb_stream_{tag}")
    codes = os.path.join(_scratch_dir(), f"spark_graft_ivfpq_stream_codes_{tag}")
    ckpt = os.path.join(_scratch_dir(), f"spark_graft_ivfpq_stream_ckpt_{tag}")
    if not os.path.exists(os.path.join(stream_src, "_SUCCESS")):
        emb.coalesce(1).write.mode("overwrite").parquet(stream_src)

    schema = spark.read.parquet(stream_src).schema
    stream = spark.readStream.schema(schema).parquet(stream_src)
    stream_ivfpq_ingest(
        stream, meta, codes, ckpt,
        query_name="streaming_ivfpq_ingest_embeddings",
    )
    out = S.ivfpq_topk_indexed(
        spark, codes, q, k=10, n_probe=4, rerank=100,
        emb=emb, meta=meta, exclude_id=0,
    )
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


_KMEANS_K = 4
_KMEANS_ITER = 2
_KMEANS_DIM = 64
_KMEANS_SIMQ = (
    "ROUND(list_dot_product({v}, {c}) / "
    "(SQRT(list_dot_product({v}, {v})) * SQRT(list_dot_product({c}, {c}))), 6)"
)


def _kmeans_iter_sql(prev: str, idx: int) -> str:
    """One unrolled Lloyd iteration as CTEs: assignment (quantized
    cosine, ties to lowest cid), per-dimension integer-micro sums,
    integer ratio-rounded means (empty cluster keeps its centroid)."""
    simq = _KMEANS_SIMQ.format(v="e.v", c="c.c")
    return f"""
    a{idx} AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {simq} DESC, c.cid ASC) AS rn
        FROM e CROSS JOIN {prev} c) WHERE rn = 1
    ),
    s{idx} AS (
      SELECT cid, t.i AS i,
             SUM(CAST(ROUND(v[t.i + 1] * 1000000, 0) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM a{idx}, range(0, {_KMEANS_DIM}) t(i)
      GROUP BY cid, t.i
    ),
    c{idx} AS (
      SELECT c.cid, COALESCE(m.c, c.c) AS c
      FROM {prev} c LEFT JOIN (
        SELECT cid,
               list(CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
                         ((2 * ABS(s) + n) // (2 * n)) AS DOUBLE)
                    / 1000000.0 ORDER BY i) AS c
        FROM s{idx} GROUP BY cid) m USING (cid)
    )"""


_KMEANS_FINAL_SIMQ = _KMEANS_SIMQ.format(v="e.v", c="c.c")
_KMEANS_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform(v, x -> ROUND(x, 6)) AS c
      FROM e ORDER BY vec_id LIMIT {_KMEANS_K}
    ),{_kmeans_iter_sql('c0', 1)},{_kmeans_iter_sql('c1', 2)},
    af AS (
      SELECT vec_id, cid, simq FROM (
        SELECT e.vec_id, c.cid, {_KMEANS_FINAL_SIMQ} AS simq,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_KMEANS_FINAL_SIMQ} DESC, c.cid ASC) AS rn
        FROM e CROSS JOIN c2 c) WHERE rn = 1
    )
    SELECT cid AS centroid_id, COUNT(*) AS n_vecs,
           CAST(SUM(CAST(ROUND(simq * 1000000, 0) AS BIGINT)) AS BIGINT)
             / COUNT(*) / 1000000.0 AS avg_sim
    FROM af GROUP BY cid
    """


@register("kmeans_clusters_embeddings", _KMEANS_ORACLE)
def kmeans_clusters_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed spherical k-means (Lloyd, k=4, 2 iterations) over
    the embeddings table, reporting per-cluster size and mean
    member-to-centroid cosine — the trained-codebook path for IVF
    ANN (operators/similarity.kmeans_fit feeds write_ivf_index) and
    the clustering core of semantic-dedup pipelines.

    An ITERATIVE algorithm with a full value oracle: deterministic
    seeding (k smallest ids), quantized-cosine assignment with id
    tie-breaks, and integer-micro centroid means make every iteration
    engine-portable, so the DuckDB oracle replays both Lloyd
    iterations as unrolled CTEs and hash-matches. Embeddings are cast
    to array<double> up front: float32 squaring on one side and
    float64 on the other would diverge in the last bits."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.kmeans_cluster_profile(
        emb, k=_KMEANS_K, n_iter=_KMEANS_ITER
    )


@register(
    "global_ids_docs",
    f"""
    SELECT doc_id, source,
           ROW_NUMBER() OVER (ORDER BY source, doc_id) AS row_id
    FROM documents
    """,
)
def global_ids_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global row ids over (source, doc_id) — the corpus
    re-numbering every sharded training run needs. NOT the naive
    row_number() OVER (ORDER BY ...) (whose empty PARTITION BY
    serializes 100 TB through one task): operators/windows.
    global_row_number range-partitions, ranks locally, and adds
    collected per-partition offsets — identical ids, cluster-wide
    parallelism (tests assert the plan has no single-partition
    global window)."""
    docs = load(spark, sf_dir, "documents")
    out = OW.global_row_number(
        docs.select("doc_id", "source"), ["source", "doc_id"]
    )
    return out.select("doc_id", "source", "row_id")


@register(
    "embedding_quantize_int8",
    """
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM e
    )
    SELECT vec_id, scale,
           array_to_string(
             CASE WHEN scale > 0
                  THEN list_transform(v, x -> CAST(FLOOR(x / scale + 0.5) AS INT))
                  ELSE list_transform(v, x -> 0) END,
             ',') AS q_csv
    FROM s
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus
    (functions/vector.int8_quantize): the 4x storage/bandwidth lever
    before any ANN index at 100 TB. Map-side pure expressions; scale
    and every quantized component are deterministic arithmetic, so
    the whole codebook-free compression is value-oracle-paired.
    Reconstruction quality (dequantized cosine vs exact) is measured
    in tests/test_similarity.py.

    The registered output serializes the int8 vector as a CSV string:
    the driver harness canonicalizes results through pandas, and a raw
    array column is unhashable there (r04 hard error). Catalog rule —
    no array/map/struct columns in registered query outputs — asserted
    for every query in tests/test_plans_quality.py; library callers
    get the real array from functions/vector.int8_quantize."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    scale, q = V.int8_quantize("embedding")
    return emb.select(
        "vec_id",
        scale.alias("scale"),
        F.array_join(q.cast("array<string>"), ",").alias("q_csv"),
    )


@register(
    "dedup_incremental_docs",
    f"""
    WITH hist AS (
      SELECT md5({NORM_SQL}) AS fp FROM documents WHERE doc_id < 250
    ),
    new_batch AS (
      SELECT doc_id, md5({NORM_SQL}) AS fp FROM documents
      WHERE doc_id >= 250
    ),
    fresh AS (
      SELECT doc_id, fp FROM new_batch
      WHERE fp NOT IN (SELECT fp FROM hist)
    )
    SELECT MIN(doc_id) AS doc_id, fp FROM fresh GROUP BY fp
    """,
)
def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup (operators/corpus.incremental_dedup):
    a new ingest batch (doc_id >= 250) deduped against the already-
    ingested corpus (doc_id < 250) AND within itself — the
    continuous-ingestion shape where history participates only as a
    16-byte fingerprint table (never a corpus rescan; bloom_prefilter
    slots in front of the anti-join when the fingerprint set outgrows
    a comfortable shuffle)."""
    docs = load(spark, sf_dir, "documents")
    return C.incremental_dedup(
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOP_SUM = " + ".join(
    f"CASE WHEN list_contains(toks, '{s}') THEN 1 ELSE 0 END" for s in T.STOPWORDS_EN
)


@register(
    "text_stats",
    f"""
    WITH t AS (
      SELECT doc_id, {NORM_SQL} AS norm,
             string_split({NORM_SQL}, ' ') AS toks,
             text
      FROM documents
    )
    SELECT doc_id,
           length(norm) AS n_chars_norm,
           len(toks) AS n_tokens,
           ROUND(CAST(length(norm) - (len(toks) - 1) AS DOUBLE) / len(toks), 4) AS avg_token_len,
           length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct_cnt,
           ROUND(CAST({_STOP_SUM} AS DOUBLE) / len(toks), 4) AS stopword_ratio
    FROM t
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics, all JVM-side expressions."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(T.normalize("text")).cast("long").alias("n_chars_norm"),
        T.token_count("text").cast("long").alias("n_tokens"),
        F.round(T.avg_token_len("text"), 4).alias("avg_token_len"),
        T.punct_count("text").cast("long").alias("punct_cnt"),
        F.round(T.stopword_ratio("text"), 4).alias("stopword_ratio"),
    )


@register(
    "text_quality",
    f"""
    WITH t AS (
      SELECT doc_id, text, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ), parts AS (
      SELECT doc_id,
             LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS length_score,
             1.0 - LEAST(CAST(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
                         / GREATEST(CAST(length(text) AS DOUBLE), 1.0) * 4.0, 1.0) AS punct_score,
             LEAST(CAST({_STOP_SUM} AS DOUBLE) / len(toks) * 10.0, 1.0) AS stop_score
      FROM t
    )
    SELECT doc_id, ROUND((length_score + punct_score + stop_score) / 3.0, 4) AS quality
    FROM parts
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality score in [0,1] (length / punctuation /
    stopword-presence mix) — identical arithmetic both sides."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(T.quality_score("text"), 4).alias("quality")
    )


_LANG_SCORE_SQL = ", ".join(
    "CAST("
    + " + ".join(
        f"CASE WHEN list_contains(toks, '{m}') THEN 1 ELSE 0 END" for m in markers
    )
    + f" AS INTEGER) AS score_{lang}"
    for lang, markers in sorted(T.LANG_MARKERS.items())
)


@register(
    "lang_id_docs",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ), scored AS (
      SELECT doc_id, {_LANG_SCORE_SQL} FROM t
    ), unp AS (
      SELECT doc_id, lang, score FROM scored
      UNPIVOT (score FOR lang IN (score_de AS 'de', score_en AS 'en', score_es AS 'es',
                                  score_fr AS 'fr', score_zh AS 'zh'))
    ), best AS (
      SELECT doc_id, lang, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, lang DESC) AS rn
      FROM unp
    )
    SELECT doc_id,
           CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred
    FROM best WHERE rn = 1
    """,
)
def lang_id_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-only language ID by stopword-marker voting (argmax,
    ties to the lexicographically last code, 'und' when scoreless).
    The richer char-trigram model lives in functions/text.py."""
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", T.lang_id("text").alias("lang_pred"))


@register(
    "token_count_bpe",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '{T.TOKEN_REGEX}')) AS n_bpe_tokens
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token counting with a BPE-ish regex, JVM-side."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", T.token_count_bpe("text").cast("long").alias("n_bpe_tokens")
    )


# ---------------------------------------------------------------------------
# Multimodal (binary) columns
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Flight-domain flagship (rows-only: the full approach pipeline)
# ---------------------------------------------------------------------------

@register(
    "streaming_sessions_events",
    """
    WITH e AS (
      SELECT user_id, ts, value, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), s AS (
      SELECT user_id, ts, value,
             SUM(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 3600
                 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM e
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 1 HOUR AS session_end,
           COUNT(*) AS n_events,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
    FROM s GROUP BY user_id, sid
    """,
)
def streaming_sessions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run inside the correctness gate: the
    events table consumed as a file-source stream, session_window gap
    sessions (gap = 1 h) aggregated with an availableNow trigger in
    complete mode into a memory sink, returned as the finished batch
    result. Oracle: batch gap-sessionization SQL (lag + cumsum; an
    event at exactly prev + gap MERGES — session ranges are
    [start, last + gap) — so a new session needs diff > gap).
    Money-style integer-cent sums keep the hash stable across
    engines and stream/batch execution orders.

    The engine-managed session state is keyed (user, window) and at a
    real stream's scale is evicted by the watermark; complete mode
    here is what makes the bounded replay comparable to batch."""
    from ..streaming.sessions import read_events_stream, run_to_memory

    stream = read_events_stream(spark, _events_stream_dir(sf_dir))
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", "1 hour").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("__cents"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            (F.col("__cents") / 100.0).alias("sum_value"),
        )
    )
    run_to_memory(agg, "streaming_sessions_events_mem", mode="complete",
                  shuffle_partitions=8)
    return spark.table("streaming_sessions_events_mem")


@register(
    "unigram_logprob_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS token
      FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS ct FROM tok GROUP BY token
    ), tot AS (
      SELECT SUM(ct) AS total FROM counts
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           SUM(CAST(ROUND(log10(CAST(ct AS DOUBLE) / total) * 1000000, 0) AS BIGINT))
             / COUNT(*) / 1000000.0 AS avg_logprob
    FROM tok JOIN counts USING (token), tot
    GROUP BY doc_id
    """,
)
def unigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model fluency score: per-document mean log10
    probability of its tokens under the corpus's own unigram model —
    the classic cheap quality proxy for training-data filtering (low
    scores = rare-token soup; high = common fluent text).

    Shape: one explode pass feeds both the model (token counts, a
    broadcastable vocab dim) and the scoring join; the corpus total
    rides along as a broadcast scalar. Per-token scores quantize to
    integer micro-log units before the exact BIGINT sum, so the mean
    is byte-stable across engines and partition orders (same pattern
    as the money/milli aggregates)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("ct"))
    tot = counts.agg(F.sum("ct").alias("total"))
    micro = F.round(
        F.log10(F.col("ct") / F.col("total")) * 1000000, 0
    ).cast("long")
    return (
        tok.join(F.broadcast(counts), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum(micro) / F.count(F.lit(1)) / 1000000.0).alias("avg_logprob"),
        )
    )


@register(
    "bigram_logprob_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, pos, token FROM (
        SELECT doc_id,
               unnest(string_split({NORM_SQL}, ' ')) AS token,
               unnest(range(len(string_split({NORM_SQL}, ' ')))) AS pos
        FROM documents
      )
    ), big AS (
      SELECT doc_id, token AS prev,
             LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
      FROM tok
    ), bg AS (
      SELECT doc_id, prev, cur FROM big WHERE cur IS NOT NULL
    ), bmodel AS (
      SELECT prev, cur, COUNT(*) AS bc FROM bg GROUP BY prev, cur
    ), umodel AS (
      SELECT prev, SUM(bc) AS uc FROM bmodel GROUP BY prev
    )
    SELECT g.doc_id,
           COUNT(*) AS n_bigrams,
           SUM(CAST(ROUND(log10(CAST(b.bc AS DOUBLE) / u.uc) * 1000000, 0)
                    AS BIGINT)) / COUNT(*) / 1000000.0 AS avg_logprob
    FROM bg g
    JOIN bmodel b ON g.prev = b.prev AND g.cur = b.cur
    JOIN umodel u ON g.prev = u.prev
    GROUP BY g.doc_id
    """,
)
def bigram_logprob_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score: per-document mean log10
    P(w_i | w_{i-1}) under the corpus's own bigram model — the
    conditional upgrade of unigram_logprob_docs (catches
    plausible-words-in-implausible-order text the unigram model
    scores as fluent). The bigram context totals are derived FROM
    the bigram counts (not a separate unigram pass), so the
    conditional distribution sums to 1 per context by construction.
    One posexplode+lead pass feeds both the model and the scoring
    join; per-bigram scores quantize to integer micro-log units
    before the exact BIGINT sum (the unigram query's portability
    pattern)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "token")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.withColumn("cur", F.lead("token").over(w))
        .filter(F.col("cur").isNotNull())
        .select("doc_id", F.col("token").alias("prev"), "cur")
        .localCheckpoint(eager=False)  # feeds the model AND the scorer
    )
    bmodel = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("bc"))
    umodel = bmodel.groupBy("prev").agg(F.sum("bc").alias("uc"))
    micro = F.round(
        F.log10(F.col("bc") / F.col("uc")) * 1000000, 0
    ).cast("long")
    # no broadcast hints: the bigram model grows with corpus size
    # (distinct bigram types), so a forced broadcast OOMs at the scale
    # this docstring targets — let AQE pick BHJ when the model is
    # genuinely small and degrade to sort-merge when it isn't (the
    # contamination_bloom pattern)
    return (
        bg.join(bmodel, ["prev", "cur"])
        .join(umodel, "prev")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum(micro) / F.count(F.lit(1)) / 1000000.0).alias(
                "avg_logprob"
            ),
        )
    )


@register(
    "kneser_ney_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, pos, token FROM (
        SELECT doc_id,
               unnest(string_split({{NORM}}, ' ')) AS token,
               unnest(range(len(string_split({{NORM}}, ' ')))) AS pos
        FROM documents
      )
    ), big AS (
      SELECT doc_id, token AS prev,
             LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
      FROM tok
    ), bg AS (
      SELECT doc_id, prev, cur FROM big WHERE cur IS NOT NULL
    ), bmodel AS (
      SELECT prev, cur, COUNT(*) AS bc FROM bg GROUP BY prev, cur
    ), ctx AS (
      SELECT prev, SUM(bc) AS c_prev, COUNT(*) AS n1p
      FROM bmodel GROUP BY prev
    ), cont AS (
      SELECT cur, COUNT(*) AS n1c FROM bmodel GROUP BY cur
    ), btot AS (
      SELECT COUNT(*) AS btypes FROM bmodel
    ), sc AS (
      SELECT g.doc_id,
             ((CAST(4 * b.bc - 3 AS HUGEINT) * t.btypes
               + 3 * x.n1p * o.n1c) * 2000000
              + CAST(4 AS HUGEINT) * x.c_prev * t.btypes)
             // (CAST(8 AS HUGEINT) * x.c_prev * t.btypes) AS p_micro
      FROM bg g
      JOIN bmodel b ON g.prev = b.prev AND g.cur = b.cur
      JOIN ctx x ON g.prev = x.prev
      JOIN cont o ON g.cur = o.cur, btot t
    )
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           SUM(CAST(p_micro AS BIGINT)) / COUNT(*) / 1000000.0 AS avg_prob,
           CAST(MIN(p_micro) AS BIGINT) AS min_p_micro
    FROM sc GROUP BY doc_id
    """.replace("{NORM}", NORM_SQL),
)
def kneser_ney_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kneser-Ney smoothed bigram LM scoring per document
    (operators/corpus.kneser_ney_score, D = 3/4): mean and minimum
    interpolated conditional probability of the document's bigrams
    under the corpus's own KN model — the perplexity-filtering
    primitive, with every probability an EXACT integer rational
    (micro = (2e6*num + den) DIV (2*den) in DECIMAL(38,0)/HUGEINT)
    so the whole query is strict-oracle hash-matched with zero
    engine transcendentals (the PMI doctrine pushed to the VALUE,
    not just the rank). Continuation counts N1+(.,cur) fix the
    'Francisco' pathology add-k smoothing has; exact-Fraction
    replay + the sum-to-1 KN identity live in tests/test_corpus.py."""
    from ..operators.corpus import kneser_ney_score

    docs = load(spark, sf_dir, "documents")
    return kneser_ney_score(docs)


@register("streaming_kneser_ney_docs", None)  # oracle bound below
def streaming_kneser_ney_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """kneser_ney_docs' model built over a STREAMING corpus
    (streaming/foreach_batch.stream_kn_bigrams) — the SIXTH
    mergeable-ingestion family member: two mtime-ordered doc batches
    (even doc_ids, then odd) fold their per-document bigram counts
    into a generation-keyed store; per-doc counts are pure functions
    of the text, so the merge (union + full-key dedup) is idempotent
    under replays AND cross-batch repeats (the r13 E-S ADVICE lesson
    built in). The probe derives EVERYTHING from the drained store —
    model, margins, continuation counts, and each document's
    re-weighted score (operators/corpus.kneser_ney_score_from_counts)
    — so it equals the batch query exactly and shares its strict
    oracle VERBATIM."""
    import hashlib
    import os
    import shutil

    from ..operators.corpus import kneser_ney_score_from_counts
    from ..operators.similarity import _fs_glob
    from ..streaming.foreach_batch import stream_kn_bigrams

    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"kn-stream-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_kn_arrivals_{tag}")
    store_root = os.path.join(base, f"spark_graft_kn_store_{tag}")
    ckpt = os.path.join(base, f"spark_graft_kn_ckpt_{tag}")

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    seed = os.path.join(store_root, "gen-0")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(store_root, ignore_errors=True)
        spark.createDataFrame(
            [], "doc_id bigint, prev string, cur string, n bigint"
        ).write.mode("overwrite").parquet(seed)
    _write_ordered_stream_fixture(stream_dir, (
        ("docs_00.parquet", docs.filter(F.col("doc_id") % 2 == 0),
         1_000_000_000),
        ("docs_01.parquet", docs.filter(F.col("doc_id") % 2 == 1),
         1_000_000_100),
    ))
    schema = spark.read.parquet(
        os.path.join(stream_dir, "docs_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_kn_bigrams(
        stream, store_root, ckpt,
        query_name="streaming_kneser_ney_docs",
    )
    latest = max(
        int(name.split("-", 1)[1])
        for name in _fs_glob(store_root, "gen-*", spark)
        if name.split("-", 1)[1].isdigit()
    )
    drained = spark.read.parquet(f"{store_root}/gen-{latest}")
    return kneser_ney_score_from_counts(drained)


def _events_stream_dir(sf_dir: str) -> str:
    """The file stream source requires a DIRECTORY; expose the single
    events.parquet through a per-sf_dir symlink dir (no data copy)."""
    import hashlib
    import os

    src = os.path.realpath(f"{sf_dir}/events.parquet")
    stream_dir = os.path.join(
        _scratch_dir(),
        f"spark_graft_events_stream_{hashlib.md5(src.encode()).hexdigest()[:12]}",
    )
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    # lexists: a DANGLING link (testdata regenerated under the same
    # /tmp dir) must be replaced, not tripped over
    if os.path.lexists(link) and os.path.realpath(link) != src:
        try:
            os.remove(link)
        except FileNotFoundError:  # concurrent refresh
            pass
    if not os.path.lexists(link):
        try:
            os.symlink(src, link)
        except FileExistsError:  # concurrent creation
            pass
    return stream_dir


def _dup_events_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """ONE-file stream fixture with seeded duplicates: events UNION
    its own event_id % 10 == 0 rows, coalesced to a single parquet
    file (plus one per-partition empty from coalesce) so availableNow
    processes exactly ONE micro-batch. One batch is what makes the
    dedup deterministic: across two batches, which copy survives and
    whether an evicted id re-emits would depend on watermark
    progression between batches — in one batch every duplicate id
    collapses and the duplicate copies are byte-identical, so the
    emitted set equals the source table exactly. Keyed on source
    mtime+size (the _telemetry_fixture invalidation rule)."""
    import hashlib
    import os

    src = os.path.realpath(f"{sf_dir}/events.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"dup-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    out = os.path.join(_scratch_dir(), f"spark_graft_events_dup_stream_{tag}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = load(spark, sf_dir, "events")
        ev.unionByName(ev.filter(F.col("event_id") % 10 == 0)).coalesce(
            1
        ).write.mode("overwrite").parquet(out)
    return out


@register(
    "streaming_dedup_events",
    """
    SELECT event_id, ts, user_id, event_type, value, props
    FROM events
    """,
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-evicted exact-dedup executed as a REAL stream:
    dropDuplicatesWithinWatermark(event_id) over a source seeded with
    a duplicate copy of every event_id % 10 == 0 row (10% dup rate —
    the ingestion-retry shape). The emitted append-mode set must
    equal the clean source table EXACTLY — that is the oracle.

    Scale story: state holds an id only for the watermark delay after
    first sight (RocksDB-backed, evicted as the watermark advances),
    so state size is bounded by (arrival rate x delay), not by stream
    length — plain dropDuplicates([id]) would grow without bound.
    Single-file fixture => one availableNow micro-batch, which makes
    the emission deterministic (see _dup_events_stream_dir).
    Reference parity: the reference's MySQL ingest dedups flight rows
    by primary key on upsert (main.py:1 spec); this is the streaming
    re-expression."""
    from ..streaming.sessions import dedup_stream, read_events_stream, run_to_memory

    stream = read_events_stream(spark, _dup_events_stream_dir(spark, sf_dir))
    deduped = dedup_stream(stream, watermark="2 hours")
    run_to_memory(deduped, "streaming_dedup_events_mem", mode="append",
                  shuffle_partitions=8)
    return spark.table("streaming_dedup_events_mem").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "streaming_dedup_windowed_events",
    """
    WITH f AS (
      SELECT MAX(ts) - INTERVAL 2 HOUR AS frontier FROM events
    )
    SELECT date_trunc('hour', ts) AS window_start,
           event_type, COUNT(*) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
    FROM events, f
    GROUP BY 1, 2, frontier
    HAVING date_trunc('hour', ts) + INTERVAL 1 HOUR < frontier
    """,
)
def streaming_dedup_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one stream (Spark >= 3.4 multiple-
    stateful-operator support): watermark-evicted exact dedup feeding a
    tumbling-window aggregation, append mode end to end, over the
    seeded-10%-duplicate fixture. The dedup layer must collapse the
    duplicate copies BEFORE they reach the counts — an at-least-once
    source in front of a plain windowed agg would double-count them.

    Append mode only finalizes a window once the watermark passes its
    end, so (as with the left-outer interval join) the oracle encodes
    the emission frontier: both sides keep exactly the windows whose
    end is strictly below max(ts) - 2 h. Spark provably emits every
    window under that frontier; any boundary window sits above it and
    is filtered on both sides, making the comparison deterministic."""
    import datetime

    from ..streaming.sessions import dedup_stream, read_events_stream, run_to_memory

    ev = load(spark, sf_dir, "events")
    mx = ev.agg(F.max("ts").alias("m")).first()["m"]
    if mx is None:
        raise ValueError(
            f"streaming_dedup_windowed_events needs a non-empty "
            f"{sf_dir}/events.parquet"
        )
    frontier = mx - datetime.timedelta(hours=2)

    stream = read_events_stream(spark, _dup_events_stream_dir(spark, sf_dir))
    agg = (
        dedup_stream(stream, watermark="2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("__cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            (F.col("__cents") / 100.0).alias("sum_value"),
        )
    )
    run_to_memory(agg, "streaming_dedup_windowed_mem", mode="append",
                  shuffle_partitions=8)
    return (
        spark.table("streaming_dedup_windowed_mem")
        .filter(F.col("window_end") < F.lit(frontier))
        .select("window_start", "event_type", "n", "sum_value")
    )


@register(
    "streaming_incremental_dedup_docs",
    """
    WITH norm AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    hist AS (SELECT DISTINCT fp FROM norm WHERE doc_id % 3 <> 0),
    bounds AS (
      SELECT CAST(FLOOR((MIN(doc_id) + MAX(doc_id)) / 2.0) AS BIGINT) AS mid
      FROM documents WHERE doc_id % 3 = 0
    ),
    arrivals AS (
      SELECT n.doc_id, n.fp FROM norm n WHERE n.doc_id % 3 = 0
      UNION ALL
      SELECT n.doc_id + 1000000, n.fp FROM norm n
      WHERE n.doc_id % 3 <> 0 AND n.doc_id % 7 = 1
      UNION ALL
      SELECT n.doc_id + 2000000, n.fp FROM norm n, bounds b
      WHERE n.doc_id % 3 = 0 AND n.doc_id <= b.mid AND n.doc_id % 5 = 0
      UNION ALL
      SELECT n.doc_id + 4000000, n.fp FROM norm n, bounds b
      WHERE n.doc_id % 3 = 0 AND n.doc_id > b.mid AND n.doc_id % 11 = 0
    )
    SELECT MIN(a.doc_id) AS doc_id, a.fp
    FROM arrivals a
    WHERE NOT EXISTS (SELECT 1 FROM hist h WHERE h.fp = a.fp)
    GROUP BY a.fp
    """,
)
def streaming_incremental_dedup_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental dedup over a GROWING corpus, run as a real stream
    (streaming/foreach_batch.stream_incremental_dedup): the corpus
    history (docs with doc_id % 3 != 0) participates only as its
    fingerprint table; arrivals come in TWO id-ordered micro-batches
    (maxFilesPerTrigger=1 over mtime-ordered fixture files) seeded
    with three duplicate populations a crawler actually produces —
    re-crawls of history docs under fresh ids (+1e6), re-crawls of
    batch-1 arrivals landing in batch 2 (+2e6), and within-batch
    copies (+4e6). All three must be dropped: the first by the
    history anti-join, the second by the fingerprint history GROWING
    as batch 1 commits, the third by within-batch min-id grouping.
    The surviving (doc_id, fp) set equals the one-shot batch dedup of
    the full arrival stream — the strict oracle at left — and the
    batch-twin equality is also pinned in tests/test_streaming.py.

    Scale: per micro-batch cost is one fingerprint projection + one
    anti-join against a fingerprint set (16-byte keys, bloom-
    prefilterable via operators/bloom.py); the corpus body is never
    rescanned. Fixture dirs are content-keyed; a replay over the
    existing checkpoint emits nothing and leaves the converged
    keepers store."""
    import hashlib
    import os

    from ..streaming.foreach_batch import stream_incremental_dedup

    docs = load(spark, sf_dir, "documents")
    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"incrdedup-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_docs_arrivals_{tag}")
    hist_fp = os.path.join(base, f"spark_graft_docs_histfp_{tag}")
    keepers = os.path.join(base, f"spark_graft_docs_keepers_{tag}")
    ckpt = os.path.join(base, f"spark_graft_docs_incr_ckpt_{tag}")

    if not os.path.exists(os.path.join(hist_fp, "_SUCCESS")):
        (
            docs.filter(F.col("doc_id") % 3 != 0)
            .select(T.fingerprint_md5("text").alias("fp"))
            .distinct()
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(hist_fp)
        )

    new = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    if not os.path.exists(os.path.join(stream_dir, "_READY")):
        # bounded collect: two scalars
        b = new.agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        ).first()
        mid = (int(b["mn"]) + int(b["mx"])) // 2
        lo = new.filter(F.col("doc_id") <= mid)
        hi = new.filter(F.col("doc_id") > mid)
        hist_docs = docs.filter(F.col("doc_id") % 3 != 0)
        batch1 = lo.unionByName(
            hist_docs.filter(F.col("doc_id") % 7 == 1).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        batch2 = (
            hi.unionByName(
                lo.filter(F.col("doc_id") % 5 == 0).select(
                    (F.col("doc_id") + 2000000).alias("doc_id"), "text"
                )
            ).unionByName(
                hi.filter(F.col("doc_id") % 11 == 0).select(
                    (F.col("doc_id") + 4000000).alias("doc_id"), "text"
                )
            )
        )
        # fixed mtimes pin micro-batch ORDER: batch 1 = low ids,
        # batch 2 = high ids + dups of batch 1 — the id-monotonic
        # arrival the convergence contract assumes
        _write_ordered_stream_fixture(stream_dir, (
            ("arrivals_00.parquet", batch1, 1_000_000_000),
            ("arrivals_01.parquet", batch2, 1_000_000_100),
        ))

    schema = spark.read.parquet(
        os.path.join(stream_dir, "arrivals_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_incremental_dedup(
        stream, hist_fp, keepers, ckpt,
        query_name="streaming_incremental_dedup_docs",
    )
    return spark.read.parquet(keepers).select("doc_id", "fp")


@register(
    "streaming_incremental_minhash_docs",
    f"""
    WITH {_SHINGLE_SQL},
    hh AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(s), 1, 14)) AS BIGINT) AS a,
             CAST(concat('0x', substr(md5(s), 15, 13)) AS BIGINT) AS b
      FROM sh
    ),
    sig AS (
      SELECT doc_id, {_MINHASH_SIG_SQL} FROM hh GROUP BY doc_id
    ),
    bounds AS (
      SELECT CAST(FLOOR((MIN(doc_id) + MAX(doc_id)) / 2.0) AS BIGINT) AS mid
      FROM documents WHERE doc_id % 3 = 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT x.doc_id AS xid, y.doc_id AS yid
      FROM sig x JOIN sig y ON x.doc_id <> y.doc_id
        JOIN common ON common.id1 = x.doc_id AND common.id2 = y.doc_id
        JOIN sizes s1 ON x.doc_id = s1.doc_id
        JOIN sizes s2 ON y.doc_id = s2.doc_id
      WHERE ({_MINHASH_BAND_SQL})
        AND CAST(c AS DOUBLE) / (s1.n + s2.n - c) >= {JACCARD_THRESHOLD}
    ),
    k1 AS (
      SELECT d.doc_id FROM documents d, bounds b
      WHERE d.doc_id % 3 = 0 AND d.doc_id <= b.mid
        AND NOT EXISTS (SELECT 1 FROM verified v
                        WHERE v.xid = d.doc_id AND v.yid % 3 <> 0)
    ),
    k2 AS (
      SELECT d.doc_id FROM documents d, bounds b
      WHERE d.doc_id % 3 = 0 AND d.doc_id > b.mid
        AND NOT EXISTS (
          SELECT 1 FROM verified v
          WHERE v.xid = d.doc_id
            AND (v.yid % 3 <> 0
                 OR v.yid IN (SELECT doc_id FROM k1)))
    )
    SELECT doc_id FROM k1 UNION ALL SELECT doc_id FROM k2
    """,
)
def streaming_incremental_minhash_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NEAR-dup incremental dedup of crawl batches against a GROWING
    corpus, as a real stream (streaming/foreach_batch.
    stream_incremental_minhash_dedup): the corpus history
    (doc_id % 3 != 0) participates only as its PERSISTED MinHash
    signature table; arrivals come in two id-ordered micro-batches —
    batch 2 additionally carries EXACT re-crawls (+5e6 ids) of every
    shingle-bearing batch-1 doc, all of which must be dropped: copies
    of batch-1 keepers only because the signature history GREW when
    batch 1 committed, copies of batch-1 non-keepers via the same
    history doc their original matched. The strict oracle replays the
    sequential-greedy semantics in SQL (k1 = batch-1 survivors vs
    history; k2 = batch-2 survivors vs history + k1), using the md5km
    hash family so signatures, band candidates, and the exact-Jaccard
    verify reproduce bit-for-bit across engines.

    Scale: per micro-batch cost is one signature pass over the batch
    plus a (band, bucket) equi-join against the history banding —
    the corpus body is never rescanned, nothing is all-pairs, and
    the history grows by a few hundred BYTES per kept doc."""
    import hashlib
    import os

    from ..streaming.foreach_batch import stream_incremental_minhash_dedup

    docs = load(spark, sf_dir, "documents")
    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"incrmh-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_docs_mh_arrivals_{tag}")
    hist_sig = os.path.join(base, f"spark_graft_docs_mh_histsig_{tag}")
    keepers = os.path.join(base, f"spark_graft_docs_mh_keepers_{tag}")
    ckpt = os.path.join(base, f"spark_graft_docs_mh_ckpt_{tag}")

    if not os.path.exists(os.path.join(hist_sig, "_SUCCESS")):
        D.minhash_sig_table(
            docs.filter(F.col("doc_id") % 3 != 0),
            k=SHINGLE_K, num_hashes=_MINHASH_N, hash_family="md5km",
        ).coalesce(1).write.mode("overwrite").parquet(hist_sig)

    new = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "text")
    if not os.path.exists(os.path.join(stream_dir, "_READY")):
        b = new.agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        ).first()
        mid = (int(b["mn"]) + int(b["mx"])) // 2
        lo = new.filter(F.col("doc_id") <= mid)
        hi = new.filter(F.col("doc_id") > mid)
        # exact re-crawls of every SHINGLE-BEARING batch-1 doc (>= k
        # normalized tokens — sub-shingle docs can never match, so a
        # copy of one would survive and diverge from the oracle)
        recrawls = lo.filter(
            F.size(T.tokens("text")) >= SHINGLE_K
        ).select((F.col("doc_id") + 5000000).alias("doc_id"), "text")
        batch2 = hi.unionByName(recrawls)
        _write_ordered_stream_fixture(stream_dir, (
            ("arrivals_00.parquet", lo, 1_000_000_000),
            ("arrivals_01.parquet", batch2, 1_000_000_100),
        ))

    schema = spark.read.parquet(
        os.path.join(stream_dir, "arrivals_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_incremental_minhash_dedup(
        stream, hist_sig, keepers, ckpt,
        query_name="streaming_incremental_minhash_docs",
        k=SHINGLE_K, num_hashes=_MINHASH_N, bands=_MINHASH_BANDS,
        verify_threshold=JACCARD_THRESHOLD, hash_family="md5km",
    )
    # seeded re-crawls must ALL have been dropped (ids stay original)
    return spark.read.parquet(keepers).select("doc_id")


@register(
    "streaming_upsert_windowed_events",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           event_type, COUNT(*) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def streaming_upsert_windowed_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The S6/S7 sink family under the correctness gate: an
    update-mode windowed aggregation foreachBatch-MERGEd into the
    bucketed parquet table (sinks.upsert) — the reference's
    INSERT..ON DUPLICATE KEY UPDATE re-expressed as an incremental
    streaming materialized view. Update mode re-emits a window every
    time a batch revises it and the upsert replaces the stale row, so
    after an availableNow replay the TABLE CONTENTS equal the batch
    aggregate exactly — that equality is the oracle (and the
    restart-idempotence contract test_partitioning pins). Fixture
    dirs are content-keyed like the other stream fixtures: a replay
    over an existing checkpoint emits nothing and leaves the same
    converged table."""
    import hashlib
    import os

    from .. import sinks
    from ..streaming.foreach_batch import stream_upsert
    from ..streaming.sessions import read_events_stream

    src = os.path.realpath(f"{sf_dir}/events.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"upsert-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    table = os.path.join(_scratch_dir(), f"spark_graft_upsert_tbl_{tag}")
    ckpt = os.path.join(_scratch_dir(), f"spark_graft_upsert_ckpt_{tag}")

    keys = ["window_start", "event_type"]
    if not os.path.exists(table):
        base = spark.createDataFrame(
            [], "window_start timestamp, event_type string, "
            "n long, __cents long"
        )
        sinks.create_table(base, table, keys=keys, n_buckets=4)

    stream = read_events_stream(spark, _events_stream_dir(sf_dir))
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
                "__cents"
            ),
        )
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n", "__cents")
    )
    stream_upsert(agg, table, keys=keys, checkpoint_dir=ckpt,
                  query_name="streaming_upsert_windowed_events")
    return sinks.read_table(spark, table).select(
        "window_start", "event_type", "n",
        (F.col("__cents") / 100.0).alias("sum_value"),
    )


@register(
    "streaming_windowed_counts_events",
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type, COUNT(*) AS n,
           SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def streaming_windowed_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling windows executed as a REAL stream
    (availableNow, complete mode, memory sink) — the streaming twin
    of events_tumbling_window, checked against the same batch SQL.
    Integer-cent sums keep the hash independent of micro-batch
    arrival order."""
    from ..streaming.sessions import read_events_stream, run_to_memory

    stream = read_events_stream(spark, _events_stream_dir(sf_dir))
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("__cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            (F.col("__cents") / 100.0).alias("sum_value"),
        )
    )
    run_to_memory(agg, "streaming_windowed_counts_events_mem", mode="complete",
                  shuffle_partitions=8)
    return spark.table("streaming_windowed_counts_events_mem")


@register(
    "streaming_enriched_counts_events",
    """
    SELECT c.c_mktsegment AS segment, e.event_type,
           COUNT(*) AS n,
           SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) / 100.0 AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def streaming_enriched_counts_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static enrichment — the most common production
    streaming shape: the events stream broadcast-joined to a static
    customer dimension (stateless per micro-batch, no watermark
    needed for the join itself), then aggregated per (segment,
    event_type) in complete mode. The static side is planned as a
    broadcast hash join inside every micro-batch, so the stream
    never shuffles for the join; at a 100 TB/day stream the dim
    refresh cadence is a re-broadcast, not a repartition. Oracle:
    the same join+rollup as batch SQL; integer-cent sums keep the
    hash independent of micro-batch arrival order."""
    from ..streaming.sessions import read_events_stream, run_to_memory

    stream = read_events_stream(spark, _events_stream_dir(sf_dir))
    dim = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    agg = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("__cents"),
        )
        .select(
            "segment",
            "event_type",
            "n",
            (F.col("__cents") / 100.0).alias("sum_value"),
        )
    )
    run_to_memory(agg, "streaming_enriched_counts_events_mem", mode="complete",
                  shuffle_partitions=8)
    return spark.table("streaming_enriched_counts_events_mem")


@register(
    "streaming_interval_join_events",
    """
    SELECT p.event_id, p.user_id,
           COUNT(*) AS n_clicks,
           MIN(c.ts) AS first_click,
           MAX(c.ts) AS last_click
    FROM events p
    JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 3 DAY
     AND c.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def streaming_interval_join_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM event-time interval join executed as a real
    availableNow run in-gate (streaming/sessions.
    stream_stream_click_purchase): each purchase inner-joined to the
    same user's clicks from the trailing 3 days, state bounded and
    evicted by the 2-hour watermarks. The finite single-file source
    runs as one micro-batch, so the inner join is COMPLETE and the
    oracle is the batch interval join (interval_join_click_counts's
    twin) aggregated per purchase. Join state is keyed/shuffled on
    user_id and pruned by event time — skewed users bound memory by
    time, not history (see the operator docstring for the
    left-outer eviction-frontier contract, asserted in
    tests/test_streaming.py)."""
    from ..streaming.sessions import (
        read_events_stream,
        run_to_memory,
        stream_stream_click_purchase,
    )

    stream = read_events_stream(spark, _events_stream_dir(sf_dir))
    pairs = stream_stream_click_purchase(
        stream, watermark="2 hours", lookback="3 days", how="inner"
    )
    run_to_memory(pairs, "streaming_interval_join_events_mem", mode="append",
                  shuffle_partitions=8)
    return (
        spark.table("streaming_interval_join_events_mem")
        .groupBy("event_id", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.min("click_ts").alias("first_click"),
            F.max("click_ts").alias("last_click"),
        )
    )


@register(
    "streaming_interval_join_left_events",
    """
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), c AS (
      SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'
    ), j AS (
      SELECT p.event_id, p.user_id, p.ts, c.click_ts
      FROM p LEFT JOIN c
        ON c.user_id = p.user_id
       AND c.click_ts >= p.ts - INTERVAL 1 HOUR
       AND c.click_ts < p.ts
    ), f AS (
      SELECT LEAST((SELECT MAX(click_ts) FROM c), (SELECT MAX(ts) FROM p))
             - INTERVAL 3 HOUR AS frontier
    )
    SELECT event_id, user_id, ts,
           COUNT(click_ts) AS n_clicks,
           MIN(click_ts) AS first_click,
           MAX(click_ts) AS last_click
    FROM j, f
    WHERE click_ts IS NOT NULL OR ts < frontier
    GROUP BY 1, 2, 3
    """,
)
def streaming_interval_join_left_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT-OUTER stream-stream interval join in-gate (r06, VERDICT
    r05 ask #5): purchases with NO click in the trailing hour emit
    null-augmented — but ONLY once the watermark has passed their
    whole join window (the eviction-frontier contract the operator
    documents and tests/test_streaming.py asserts). The oracle must
    encode that frontier, so both sides restrict null rows to
    ``ts < min(max click_ts, max purchase_ts) - (watermark +
    lookback)``: strictly BELOW Spark's actual eviction bound (the
    global min-policy watermark, = max event time - 2 h), which makes
    the emitted set deterministic — Spark provably emits every null
    row under the frontier, and rows between the frontier and the
    true bound are filtered on both sides. Inner rows are complete
    and eagerly emitted regardless. One bounded driver aggregation
    computes the frontier literal (same shape as the bloom/k-means
    scalar collects)."""
    import datetime

    from ..streaming.sessions import (
        read_events_stream,
        run_to_memory,
        stream_stream_click_purchase,
    )

    ev = load(spark, sf_dir, "events")
    mx = ev.groupBy().agg(
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias("c"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("p"),
    ).first()
    if mx["c"] is None or mx["p"] is None:
        # a side with zero events has no watermark story to encode:
        # min(None, ts) would TypeError two lines down (where the SQL
        # oracle's LEAST yields NULL) — fail fast with the actual
        # problem instead
        raise ValueError(
            "streaming_interval_join_left_events needs at least one "
            f"click AND one purchase in {sf_dir}/events.parquet "
            f"(max click ts={mx['c']}, max purchase ts={mx['p']})"
        )
    frontier = min(mx["c"], mx["p"]) - datetime.timedelta(hours=3)

    stream = read_events_stream(spark, _events_stream_dir(sf_dir))
    pairs = stream_stream_click_purchase(
        stream, watermark="2 hours", lookback="1 hour", how="left_outer"
    )
    run_to_memory(pairs, "streaming_interval_join_left_mem", mode="append",
                  shuffle_partitions=8)
    emitted = spark.table("streaming_interval_join_left_mem")
    return (
        emitted.filter(
            F.col("click_ts").isNotNull() | (F.col("ts") < F.lit(frontier))
        )
        .groupBy("event_id", "user_id", "ts")
        .agg(
            F.count("click_ts").alias("n_clicks"),
            F.min("click_ts").alias("first_click"),
            F.max("click_ts").alias("last_click"),
        )
    )


# Full DuckDB twin of the approach/landing pipeline on the synthetic
# telemetry below — every stage of plans/approach.analyze() replayed
# as standard SQL (windows, gaps-and-islands, theta-join, FILTER
# aggs). Float-sensitive outputs are deterministic by construction on
# both sides: means are exact-integer milli sums (approach._avg_milli)
# and the rolling-5 AGL mean is 1e-6-quantized before its threshold
# compare, so only measure-zero predicate boundaries could diverge.
_APPROACH_ORACLE = """
WITH raw AS (
  SELECT user_id AS flight,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS time,
         800.0 + value * 10 AS msl_altitude,
         value / 2 AS indicated_airspeed,
         -value AS vertical_airspeed,
         90.0 AS heading,
         40.0 + value / 5000 AS latitude,
         -85.0 + value / 5000 AS longitude
  FROM events
), t AS (
  SELECT * FROM raw
  WHERE flight IS NOT NULL AND msl_altitude IS NOT NULL
    AND indicated_airspeed IS NOT NULL AND vertical_airspeed IS NOT NULL
    AND heading IS NOT NULL AND latitude IS NOT NULL AND longitude IS NOT NULL
), near AS (
  SELECT *,
    abs(latitude - 40.0) + abs(longitude - (-85.0)) AS d_a,
    abs(latitude - 40.02) + abs(longitude - (-84.98)) AS d_b
  FROM t
), ap AS (
  SELECT * EXCLUDE (d_a, d_b),
    CASE WHEN d_b < d_a THEN 'KBBB' ELSE 'KAAA' END AS airport_code,
    CASE WHEN d_b < d_a THEN 40.02 ELSE 40.0 END AS airport_lat,
    CASE WHEN d_b < d_a THEN -84.98 ELSE -85.0 END AS airport_lon,
    CASE WHEN d_b < d_a THEN 820.0 ELSE 800.0 END AS airport_elev
  FROM near
), pv AS (
  SELECT *,
    cos(radians(latitude)) * cos(radians(longitude)) AS px,
    cos(radians(latitude)) * sin(radians(longitude)) AS py,
    sin(radians(latitude)) AS pz,
    cos(radians(airport_lat)) * cos(radians(airport_lon)) AS bx,
    cos(radians(airport_lat)) * sin(radians(airport_lon)) AS by,
    sin(radians(airport_lat)) AS bz
  FROM ap
), dd AS (
  SELECT *,
    atan2(sqrt((py*bz-pz*by)*(py*bz-pz*by) + (pz*bx-px*bz)*(pz*bx-px*bz)
               + (px*by-py*bx)*(px*by-py*bx)),
          px*bx + py*by + pz*bz) * 3959.0 AS dist_mi,
    msl_altitude - airport_elev AS agl
  FROM pv
), tk AS (
  SELECT *, FIRST_VALUE(airport_elev)
              OVER (PARTITION BY flight ORDER BY time) AS first_elev
  FROM dd
), tk2 AS (
  SELECT *, MIN(CASE WHEN msl_altitude - first_elev >= 500.0 THEN time END)
              OVER (PARTITION BY flight) AS takeoff_time
  FROM tk
), post AS (
  SELECT * FROM tk2 WHERE time >= takeoff_time
), flagged AS (
  SELECT *, (dist_mi < 1.0 AND agl < 500.0) AS in_approach,
            (agl < 500.0) AS is_low
  FROM post
), edges AS (
  SELECT *,
    CASE WHEN in_approach AND NOT COALESCE(
          LAG(in_approach) OVER (PARTITION BY flight ORDER BY time), FALSE)
        THEN 1 ELSE 0 END AS ap_edge,
    CASE WHEN is_low AND NOT COALESCE(
          LAG(is_low) OVER (PARTITION BY flight ORDER BY time), FALSE)
        THEN 1 ELSE 0 END AS low_edge
  FROM flagged
), isl AS (
  SELECT *,
    SUM(ap_edge) OVER (PARTITION BY flight ORDER BY time
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS approach_id,
    SUM(low_edge) OVER (PARTITION BY flight ORDER BY time
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS low_id
  FROM edges
), eps AS (
  SELECT *, (agl BETWEEN 50.0 AND 150.0) AS in_final
  FROM isl WHERE in_approach
), ep_entry AS (
  SELECT flight, approach_id, arg_min(airport_code, time) AS ff_airport
  FROM eps GROUP BY flight, approach_id
), first_final AS (
  SELECT flight, approach_id,
         arg_min(heading, time) AS ff_heading,
         arg_min(latitude, time) AS ff_lat,
         arg_min(longitude, time) AS ff_lon
  FROM eps WHERE in_final GROUP BY flight, approach_id
), ff AS (
  SELECT f.*, en.ff_airport
  FROM first_final f JOIN ep_entry en USING (flight, approach_id)
), rwys(airport_code, runway_code, magnetic_rwy_hdg, true_rwy_hdg,
        center_lat, center_long) AS (
  VALUES ('KAAA', '09', 90.0, 90.0, 40.0, -85.0),
         ('KBBB', '08', 85.0, 85.0, 40.02, -84.98)
), rw_cand AS (
  SELECT ff.flight, ff.approach_id, r.*,
         abs(ff.ff_lat - r.center_lat) + abs(ff.ff_lon - r.center_long) AS d
  FROM ff LEFT JOIN rwys r ON r.airport_code = ff.ff_airport
  WHERE r.airport_code IS NULL
     OR 180.0 - abs(abs(r.magnetic_rwy_hdg - ff.ff_heading) - 180.0) <= 20.0
), rw_rank AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY flight, approach_id
                               ORDER BY d, runway_code) AS rn
  FROM rw_cand
), rw_match AS (
  SELECT flight, approach_id, runway_code AS runway_id,
         true_rwy_hdg AS rw_true_hdg, magnetic_rwy_hdg AS rw_mag_hdg,
         center_lat AS rw_lat, center_long AS rw_lon
  FROM rw_rank WHERE rn = 1
), epd AS (
  SELECT e.*, m.runway_id, m.rw_true_hdg, m.rw_mag_hdg, m.rw_lat, m.rw_lon
  FROM eps e LEFT JOIN rw_match m USING (flight, approach_id)
), gcn AS (
  SELECT *,
    sin(radians(rw_lon))*cos(radians(rw_true_hdg))
      - sin(radians(rw_lat))*cos(radians(rw_lon))*sin(radians(rw_true_hdg)) AS gx,
    -cos(radians(rw_lon))*cos(radians(rw_true_hdg))
      - sin(radians(rw_lat))*sin(radians(rw_lon))*sin(radians(rw_true_hdg)) AS gy,
    cos(radians(rw_lat))*sin(radians(rw_true_hdg)) AS gz
  FROM epd
), pred AS (
  SELECT *,
    CASE WHEN runway_id IS NOT NULL
         THEN 180.0 - abs(abs(heading - rw_mag_hdg) - 180.0) END AS heading_err,
    CASE WHEN runway_id IS NOT NULL THEN
      (atan2(sqrt((gy*pz-gz*py)*(gy*pz-gz*py) + (gz*px-gx*pz)*(gz*px-gx*pz)
                  + (gx*py-gy*px)*(gx*py-gy*px)),
             gx*px + gy*py + gz*pz) - 1.5707963267948966) * 20902000.0
    END AS xtrack_ft
  FROM gcn
), pp AS (
  SELECT *,
    CASE WHEN runway_id IS NULL THEN TRUE ELSE heading_err <= 10.0 END AS cond_f1,
    CASE WHEN runway_id IS NULL THEN TRUE ELSE abs(xtrack_ft) <= 50.0 END AS cond_f2,
    indicated_airspeed BETWEEN 55.0 AND 75.0 AS cond_a,
    vertical_airspeed >= -1000.0 AS cond_s
  FROM pred
), pp2 AS (
  SELECT *, in_final AND NOT (cond_f1 AND cond_f2 AND cond_a AND cond_s)
            AS is_unstable
  FROM pp
), ep_agg AS (
  SELECT flight, approach_id,
    arg_min(airport_code, time) AS airport_id,
    MIN(runway_id) AS runway_id,
    MIN(time) FILTER (WHERE in_final) - 1 AS approach_start,
    MAX(time) FILTER (WHERE in_final) AS approach_end,
    MAX(CASE WHEN in_final AND is_unstable THEN 1 ELSE 0 END) AS unstable,
    CASE WHEN COUNT(heading_err) FILTER (WHERE in_final) > 0 THEN
      CAST(SUM(CAST(ROUND(heading_err * 1000.0, 0) AS BIGINT)) FILTER (WHERE in_final) AS DOUBLE)
        / COUNT(heading_err) FILTER (WHERE in_final) / 1000.0 END AS all_heading,
    CASE WHEN COUNT(heading_err) FILTER (WHERE in_final AND NOT cond_f1) > 0 THEN
      CAST(SUM(CAST(ROUND(heading_err * 1000.0, 0) AS BIGINT)) FILTER (WHERE in_final AND NOT cond_f1) AS DOUBLE)
        / COUNT(heading_err) FILTER (WHERE in_final AND NOT cond_f1) / 1000.0 END AS f1_heading,
    CASE WHEN COUNT(xtrack_ft) FILTER (WHERE in_final) > 0 THEN
      CAST(SUM(CAST(ROUND(xtrack_ft * 1000.0, 0) AS BIGINT)) FILTER (WHERE in_final) AS DOUBLE)
        / COUNT(xtrack_ft) FILTER (WHERE in_final) / 1000.0 END AS all_crosstrack,
    CASE WHEN COUNT(xtrack_ft) FILTER (WHERE in_final AND NOT cond_f2) > 0 THEN
      CAST(SUM(CAST(ROUND(xtrack_ft * 1000.0, 0) AS BIGINT)) FILTER (WHERE in_final AND NOT cond_f2) AS DOUBLE)
        / COUNT(xtrack_ft) FILTER (WHERE in_final AND NOT cond_f2) / 1000.0 END AS f2_crosstrack,
    CASE WHEN COUNT(indicated_airspeed) FILTER (WHERE in_final) > 0 THEN
      CAST(SUM(CAST(ROUND(indicated_airspeed * 1000.0, 0) AS BIGINT)) FILTER (WHERE in_final) AS DOUBLE)
        / COUNT(indicated_airspeed) FILTER (WHERE in_final) / 1000.0 END AS all_ias,
    CASE WHEN COUNT(indicated_airspeed) FILTER (WHERE in_final AND NOT cond_a) > 0 THEN
      CAST(SUM(CAST(ROUND(indicated_airspeed * 1000.0, 0) AS BIGINT)) FILTER (WHERE in_final AND NOT cond_a) AS DOUBLE)
        / COUNT(indicated_airspeed) FILTER (WHERE in_final AND NOT cond_a) / 1000.0 END AS a_ias,
    CASE WHEN COUNT(vertical_airspeed) FILTER (WHERE in_final) > 0 THEN
      CAST(SUM(CAST(ROUND(vertical_airspeed * 1000.0, 0) AS BIGINT)) FILTER (WHERE in_final) AS DOUBLE)
        / COUNT(vertical_airspeed) FILTER (WHERE in_final) / 1000.0 END AS all_vsi,
    CASE WHEN COUNT(vertical_airspeed) FILTER (WHERE in_final AND NOT cond_s) > 0 THEN
      CAST(SUM(CAST(ROUND(vertical_airspeed * 1000.0, 0) AS BIGINT)) FILTER (WHERE in_final AND NOT cond_s) AS DOUBLE)
        / COUNT(vertical_airspeed) FILTER (WHERE in_final AND NOT cond_s) / 1000.0 END AS s_vsi
  FROM pp2 GROUP BY flight, approach_id
), low AS (
  SELECT flight, time, low_id, agl, indicated_airspeed,
    CASE WHEN COUNT(agl) OVER w5 >= 5
         THEN ROUND(AVG(agl) OVER w5, 6) END AS agl_roll5
  FROM isl WHERE is_low
  WINDOW w5 AS (PARTITION BY flight, low_id ORDER BY time
                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
), ep_bounds AS (
  SELECT flight, approach_id, approach_end,
         LEAD(approach_start) OVER (PARTITION BY flight ORDER BY approach_id)
           AS next_approach_start
  FROM ep_agg
), ep_island AS (
  SELECT l.flight, b.approach_id, l.low_id, b.approach_end,
         b.next_approach_start
  FROM low l JOIN ep_bounds b
    ON l.flight = b.flight AND l.time = b.approach_end
), landing_rows AS (
  SELECT l.flight, i.approach_id, l.time, l.indicated_airspeed, l.agl_roll5
  FROM low l JOIN ep_island i
    ON l.flight = i.flight AND l.low_id = i.low_id
  WHERE l.time > i.approach_end
    AND (i.next_approach_start IS NULL OR l.time < i.next_approach_start)
), landing AS (
  SELECT flight, approach_id,
    MIN(time) AS landing_start, MAX(time) AS landing_end,
    MIN(indicated_airspeed) AS landing_min_ias,
    MIN(agl_roll5) AS landing_min_roll5
  FROM landing_rows GROUP BY flight, approach_id
)
SELECT a.flight AS flight_id,
  CAST(a.approach_id AS INTEGER) AS approach_id,
  a.airport_id, a.runway_id, a.approach_start, a.approach_end,
  l.landing_start, l.landing_end,
  CASE WHEN l.landing_min_ias <= 35.0 THEN 'stop-and-go'
       WHEN l.landing_min_roll5 <= 5.0 THEN 'touch-and-go'
       ELSE 'go-around' END AS landing_type,
  CAST(a.unstable AS INTEGER) AS unstable,
  a.all_heading, a.f1_heading, a.all_crosstrack, a.f2_crosstrack,
  a.all_ias, a.a_ias, a.all_vsi, a.s_vsi
FROM ep_agg a LEFT JOIN landing l USING (flight, approach_id)
"""


def _synth_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic flight telemetry derived from the events table:
    user_id -> flight, per-user row_number -> tick, value -> altitude
    profile (the oracle's `raw` CTE replays the same derivation in
    SQL)."""
    from pyspark.sql import Window as W

    ev = load(spark, sf_dir, "events")
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("ts", "event_id"))
    return ev.select(
        F.col("user_id").alias("flight"),
        rn.cast("long").alias("time"),
        (F.lit(800.0) + F.col("value") * 10).alias("msl_altitude"),
        (F.col("value") / 2).alias("indicated_airspeed"),
        (-F.col("value")).alias("vertical_airspeed"),
        F.lit(90.0).alias("heading"),
        (F.lit(40.0) + F.col("value") / 5000).alias("latitude"),
        (F.lit(-85.0) + F.col("value") / 5000).alias("longitude"),
    )


def _telemetry_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the synthetic telemetry ONCE per (sf_dir, events
    mtime) as a parquet fixture under the repo, and read it back —
    so the registered pipeline query times the ANALYSIS, not the
    harness-only synthesis window (r04 stage profile: 1.7 s of the
    ~5 s query was synthesizing its own input; a real deployment
    reads telemetry from storage). Keyed on the source file's
    mtime+size: testdata regeneration invalidates the fixture. Also
    keyed on _synth_telemetry's SOURCE: editing the synthesis logic
    must invalidate the fixture, or the pipeline would silently read
    stale telemetry while the SQL oracle's raw CTE synthesizes fresh."""
    import hashlib
    import inspect
    import os

    # bump when anything synthesis-adjacent OUTSIDE _synth_telemetry's
    # own source changes (helpers it calls, load()'s schema behavior):
    # getsource only sees the one function body, so a transitive edit
    # would otherwise serve a stale fixture while the SQL oracle
    # synthesizes fresh
    salt = "telemetry-v2"
    ev_path = os.path.join(sf_dir, "events.parquet")
    synth_src = inspect.getsource(_synth_telemetry)
    try:
        st = os.stat(ev_path)
        tag = hashlib.md5(
            f"{salt}:{ev_path}:{st.st_mtime_ns}:{st.st_size}:{synth_src}".encode()
        ).hexdigest()[:12]
    except OSError:
        # non-local sf_dir (e.g. an object-store URI): no stat — fall
        # back to inline synthesis rather than guessing staleness
        return _synth_telemetry(spark, sf_dir)
    out = os.path.join(os.path.dirname(__file__), "..", "..", ".fixtures",
                       f"telemetry_{tag}")
    out = os.path.abspath(out)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        _synth_telemetry(spark, sf_dir).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register("approach_pipeline_demo", _APPROACH_ORACLE)
def approach_pipeline_demo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full approach/landing analysis
    (FlightAnalysis.py:46-330 re-expressed in plans/approach.py), run
    distributed over the materialized synthetic telemetry (see
    _telemetry_fixture). Exercises nearest-airport argmin, takeoff
    detection, episode islands, final-band predicates, runway
    theta-join and landing classification end-to-end at SF scale,
    oracle-checked stage-for-stage against the SQL twin above."""
    from . import approach as AP

    telemetry = _telemetry_fixture(spark, sf_dir)
    airports, runways = _demo_dims(spark)
    return AP.analyze(telemetry, airports, runways)


def _demo_dims(spark: SparkSession):
    """The two-airport/two-runway literal dims the approach oracle's
    VALUES CTEs mirror — shared by the batch demo and its streaming
    work-queue twin so their plans see identical dimensions."""
    airports = spark.createDataFrame(
        [
            {"airport_code": "KAAA", "latitude": 40.0, "longitude": -85.0,
             "elevation_ft": 800.0},
            {"airport_code": "KBBB", "latitude": 40.02, "longitude": -84.98,
             "elevation_ft": 820.0},
        ]
    )
    runways = spark.createDataFrame(
        [
            {"airport_code": "KAAA", "runway_code": "09",
             "magnetic_rwy_hdg": 90.0, "true_rwy_hdg": 90.0,
             "center_lat": 40.0, "center_long": -85.0},
            {"airport_code": "KBBB", "runway_code": "08",
             "magnetic_rwy_hdg": 85.0, "true_rwy_hdg": 85.0,
             "center_lat": 40.02, "center_long": -84.98},
        ]
    )
    return airports, runways


# --- approach pipeline at the REFERENCE's real national dims -------------
#
# The engine's dominant-cost scenario (SURVEY §6): the reference scans
# ALL 15,165 airports per telemetry tick (FlightAnalysis.py:347-367);
# with_nearest_airport dispatches that argmin to the gridded cell
# equi-join at >= GRID_MIN_AIRPORTS dims. The demo telemetry's track
# (lat 40+v/5000, lon -85+v/5000) sits >= 5 mi from every real
# airport — dist_mi < 1.0 would never fire — so the query anchors each
# flight's track onto a real airport by a pure translation: even
# flights onto GFK (Grand Forks Intl — whose real 9L/9R runways sit
# inside the 20-degree band of the synthetic heading 90, exercising
# the runway theta-join against data/AirportsDetailed.csv), odd
# flights onto I22 (Randolph County — no runway rows, exercising the
# P6 relaxation path). The translation preserves the demo's proven
# episode geometry while the nearest-airport argmin competes over the
# FULL 15,165-row dim: at sf0.01 five distinct real airports win
# ticks (GFK, I22, IN45, II73, MN81).
_REAL_AIRPORTS_CSV = "/root/reference/data/Airports.csv"
_REAL_RUNWAYS_CSV = "/root/reference/data/AirportsDetailed.csv"
# (lat, lon, elevation_ft) copied verbatim from data/Airports.csv so
# the SQL literals and the CSV-parsed doubles are the same values
_ANCHOR_EVEN = (47.947267, -97.173781, 845.0)   # GFK
_ANCHOR_ODD = (40.168333, -84.926667, 1117.0)   # I22

# oracle = the demo oracle with three asserted string replacements:
# (1) the anchor translation injected between raw and t, (2) the
# two-airport CASE argmin replaced by a min(struct) argmin over
# read_csv(Airports.csv) — the same (d, code, lat, lon, elev)
# lexicographic tie-break as operators/joins._argmin_two_phase's
# phase-2 min(struct(payload)) — and (3) the VALUES runway dim
# replaced by read_csv(AirportsDetailed.csv). Everything downstream
# of `pv` is byte-identical to the demo oracle, so the two queries
# can never drift apart stage-wise. The +-2.0-degree prefilter on the
# airport dim is provably lossless: every tick lies within Manhattan
# 0.196 deg of its anchor (track span 0.098+0.098), so the true
# argmin distance is <= 0.196 + eps, while every pruned airport is
# >= 2.0 - 0.196 > 1.8 deg from every tick. The argmin and
# airport-enriched CTEs are AS MATERIALIZED: the demo oracle's
# downstream CTEs fan out multiply, and DuckDB's default inlining
# re-expands the 10^8-row candidate aggregate per reference
# (measured 204 s -> 4.2 s at sf0.1 — the r08 BPE lesson again).
_OLD_RAW_TO_T = """  FROM events
), t AS (
  SELECT * FROM raw
"""
_NEW_RAW_TO_T = f"""  FROM events
), anch AS (
  SELECT flight, time,
    (msl_altitude - 800.0) + CASE WHEN flight % 2 = 0
        THEN {_ANCHOR_EVEN[2]} ELSE {_ANCHOR_ODD[2]} END AS msl_altitude,
    indicated_airspeed, vertical_airspeed, heading,
    CASE WHEN flight % 2 = 0 THEN {_ANCHOR_EVEN[0]}
         ELSE {_ANCHOR_ODD[0]} END + (latitude - 40.0) AS latitude,
    CASE WHEN flight % 2 = 0 THEN {_ANCHOR_EVEN[1]}
         ELSE {_ANCHOR_ODD[1]} END + (longitude - (-85.0)) AS longitude
  FROM raw
), t AS (
  SELECT * FROM anch
"""
_OLD_NEAR_AP = """), near AS (
  SELECT *,
    abs(latitude - 40.0) + abs(longitude - (-85.0)) AS d_a,
    abs(latitude - 40.02) + abs(longitude - (-84.98)) AS d_b
  FROM t
), ap AS (
  SELECT * EXCLUDE (d_a, d_b),
    CASE WHEN d_b < d_a THEN 'KBBB' ELSE 'KAAA' END AS airport_code,
    CASE WHEN d_b < d_a THEN 40.02 ELSE 40.0 END AS airport_lat,
    CASE WHEN d_b < d_a THEN -84.98 ELSE -85.0 END AS airport_lon,
    CASE WHEN d_b < d_a THEN 820.0 ELSE 800.0 END AS airport_elev
  FROM near
), pv AS (
"""
_NEW_NEAR_AP = f"""), apt AS (
  SELECT Airport_Code AS airport_code, Latitude AS ap_lat,
         Longitude AS ap_lon, CAST(Elevation_FT AS DOUBLE) AS ap_elev
  FROM read_csv('{_REAL_AIRPORTS_CSV}', header=true)
  WHERE Airport_Code IS NOT NULL AND Latitude IS NOT NULL
    AND Longitude IS NOT NULL
    AND (abs(Latitude - {_ANCHOR_EVEN[0]})
           + abs(Longitude - ({_ANCHOR_EVEN[1]})) < 2.0
         OR abs(Latitude - {_ANCHOR_ODD[0]})
           + abs(Longitude - ({_ANCHOR_ODD[1]})) < 2.0)
), bestap AS MATERIALIZED (
  SELECT t.flight, t.time,
    min({{'d': abs(t.latitude - a.ap_lat) + abs(t.longitude - a.ap_lon),
         'code': a.airport_code, 'lat': a.ap_lat, 'lon': a.ap_lon,
         'elev': a.ap_elev}}) AS b
  FROM t, apt a GROUP BY t.flight, t.time
), ap AS MATERIALIZED (
  SELECT t.*, b.b.code AS airport_code, b.b.lat AS airport_lat,
         b.b.lon AS airport_lon, b.b.elev AS airport_elev
  FROM t JOIN bestap b USING (flight, time)
), pv AS (
"""
_OLD_RWYS = """), rwys(airport_code, runway_code, magnetic_rwy_hdg, true_rwy_hdg,
        center_lat, center_long) AS (
  VALUES ('KAAA', '09', 90.0, 90.0, 40.0, -85.0),
         ('KBBB', '08', 85.0, 85.0, 40.02, -84.98)
), rw_cand AS (
"""
_NEW_RWYS = f"""), rwys AS (
  SELECT Airport_Code AS airport_code, Runway AS runway_code,
         MagneticRwyHdg AS magnetic_rwy_hdg, TrueRwyHdg AS true_rwy_hdg,
         CenterLat AS center_lat, CenterLong AS center_long
  FROM read_csv('{_REAL_RUNWAYS_CSV}', header=true)
), rw_cand AS (
"""
for _old in (_OLD_RAW_TO_T, _OLD_NEAR_AP, _OLD_RWYS):
    assert _APPROACH_ORACLE.count(_old) == 1, "demo oracle drifted"
_APPROACH_REAL_ORACLE = (
    _APPROACH_ORACLE
    .replace(_OLD_RAW_TO_T, _NEW_RAW_TO_T)
    .replace(_OLD_NEAR_AP, _NEW_NEAR_AP)
    .replace(_OLD_RWYS, _NEW_RWYS)
)


@register("approach_pipeline_real_airports", _APPROACH_REAL_ORACLE)
def approach_pipeline_real_airports(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """approach_pipeline_demo at the reference's REAL dims: the same
    telemetry fixture, anchor-translated per flight onto GFK / I22
    (see the module comment above), analyzed against all 15,165
    airports of data/Airports.csv and all 164 runways of
    data/AirportsDetailed.csv. with_nearest_airport's auto-dispatch
    takes the gridded cell equi-join here (dim >= GRID_MIN_AIRPORTS)
    — the scale path the engine was built around (SCALE.md
    "nearest-airport @ real dim": gridded 1.99 s vs broadcast fan
    15.44 s at sf0.1 x 15,165 dims) — under the SAME strict oracle
    shape as the demo (the gridded and broadcast paths are
    pinned-identical, tests/test_airports_scale.py)."""
    from . import approach as AP

    telemetry = _real_anchor_telemetry(spark, sf_dir)
    airports, runways = _real_dims(spark)
    return AP.analyze(telemetry, airports, runways)


def _real_anchor_telemetry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The telemetry fixture anchor-translated per flight onto the
    real airports (even flights -> GFK, odd -> I22) — the exact
    chain the _APPROACH_REAL_ORACLE's `anch` CTE replays. Shared by
    the batch real-dims pipeline and its streaming work-queue twin."""
    telemetry = _telemetry_fixture(spark, sf_dir)
    even = F.col("flight") % 2 == 0
    anchor_lat = F.when(even, F.lit(_ANCHOR_EVEN[0])).otherwise(
        F.lit(_ANCHOR_ODD[0])
    )
    anchor_lon = F.when(even, F.lit(_ANCHOR_EVEN[1])).otherwise(
        F.lit(_ANCHOR_ODD[1])
    )
    anchor_elev = F.when(even, F.lit(_ANCHOR_EVEN[2])).otherwise(
        F.lit(_ANCHOR_ODD[2])
    )
    return telemetry.select(
        "flight",
        "time",
        ((F.col("msl_altitude") - 800.0) + anchor_elev).alias("msl_altitude"),
        "indicated_airspeed",
        "vertical_airspeed",
        "heading",
        (anchor_lat + (F.col("latitude") - 40.0)).alias("latitude"),
        (anchor_lon + (F.col("longitude") - (-85.0))).alias("longitude"),
    )


def _real_dims(spark: SparkSession):
    from ..sources.tables import (
        load_reference_airports,
        load_reference_runways,
    )

    return (
        load_reference_airports(spark, _REAL_AIRPORTS_CSV),
        load_reference_runways(spark, _REAL_RUNWAYS_CSV),
    )


@register("streaming_approach_work_queue", _APPROACH_ORACLE)
def streaming_approach_work_queue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's work-queue incremental pattern (main.py:27,
    FlightAnalysis.py:32: new flights land, get analyzed, results
    upserted) as a Structured Streaming flow: the telemetry fixture
    arrives as TWO whole-flight files (flights never straddle a
    micro-batch — the reference's unit of work is a flight), each
    micro-batch runs the full approach pipeline (plans/approach.
    analyze: nearest airport, takeoff, episode islands, final-band
    predicates, runway theta-join, landing classification) on just
    its arriving flights, and the per-flight results MERGE into a
    bucketed table via the existing sink (sinks.upsert, keyed
    (flight_id, approach_id) — the reference's INSERT..ON DUPLICATE
    KEY UPDATE). Because every analyze() stage partitions by flight,
    a flight's rows are identical whether it was analyzed alone or
    with the whole fleet — so after availableNow drains the queue the
    table equals approach_pipeline_demo's batch output EXACTLY, and
    this query shares its strict oracle. Replay idempotence comes
    from the MERGE (same keys, same rows).

    Scale: this is the shape a 1000-executor deployment runs
    continuously — per-trigger cost is bounded by arriving flights,
    not fleet size, and the MERGE rewrites only touched buckets."""
    airports, runways = _demo_dims(spark)
    return _approach_work_queue_run(
        spark, sf_dir, _telemetry_fixture(spark, sf_dir),
        airports, runways,
        salt="apwq-v1", query_name="streaming_approach_work_queue",
    )


def _approach_work_queue_run(
    spark: SparkSession,
    sf_dir: str,
    tel: DataFrame,
    airports: DataFrame,
    runways: DataFrame,
    salt: str,
    query_name: str,
) -> DataFrame:
    """Shared work-queue harness for the two streaming approach
    twins (demo dims / real national dims): the telemetry arrives as
    TWO whole-flight files split at the median flight id, each
    micro-batch runs the full analyze() on just its arriving flights
    against the given dims, results MERGE into a bucketed table via
    sinks.upsert. Fixture/table/checkpoint dirs are content-keyed on
    (salt, events parquet mtime+size)."""
    import hashlib
    import os

    from .. import sinks
    from . import approach as AP

    ev_path = os.path.realpath(f"{sf_dir}/events.parquet")
    try:
        st = os.stat(ev_path)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"{salt}:{ev_path}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_apwq_stream_{tag}")
    table = os.path.join(base, f"spark_graft_apwq_table_{tag}")
    ckpt = os.path.join(base, f"spark_graft_apwq_ckpt_{tag}")

    if not os.path.exists(os.path.join(stream_dir, "_READY")):
        b = tel.agg(
            F.min("flight").alias("mn"), F.max("flight").alias("mx")
        ).first()
        mid = (int(b["mn"]) + int(b["mx"])) // 2
        _write_ordered_stream_fixture(stream_dir, (
            ("flights_00.parquet", tel.filter(F.col("flight") <= mid),
             1_000_000_000),
            ("flights_01.parquet", tel.filter(F.col("flight") > mid),
             1_000_000_100),
        ))

    keys = ["flight_id", "approach_id"]
    result_cols = AP.analyze(
        tel.limit(0), airports, runways, persist=False
    ).columns
    if not os.path.isdir(table):
        sinks.create_table(
            AP.analyze(tel.limit(0), airports, runways, persist=False),
            table, keys=keys, n_buckets=4,
        )

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        res = AP.analyze(batch_df, airports, runways, persist=False)
        sinks.upsert(batch_df.sparkSession, res, table, keys=keys)

    schema = spark.read.parquet(
        os.path.join(stream_dir, "flights_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    q = (
        stream.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .queryName(query_name)
        .foreachBatch(_apply)
        .start()
    )
    q.awaitTermination()
    return sinks.read_table(spark, table).select(*result_cols)


@register("streaming_approach_work_queue_real", _APPROACH_REAL_ORACLE)
def streaming_approach_work_queue_real(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's ACTUAL deployment scenario, both axes at once:
    the work-queue incremental pattern (new flights land, get
    analyzed, results upserted — main.py:27, FlightAnalysis.py:32)
    against the REAL national dims (all 15,165 airports + 164
    runways). Each micro-batch's analyze() dispatches the gridded
    nearest-airport path on just its arriving flights; per-trigger
    cost is bounded by the arrivals (the gridded join is linear in
    ticks), and the MERGE rewrites only touched buckets. All analyze
    stages partition by flight, so a flight's rows are identical
    whether analyzed alone or with the fleet — after availableNow
    drains the queue, the table equals
    approach_pipeline_real_airports' batch output exactly, and the
    twins share the strict real-dims oracle."""
    airports, runways = _real_dims(spark)
    return _approach_work_queue_run(
        spark, sf_dir, _real_anchor_telemetry(spark, sf_dir),
        airports, runways,
        salt="apwq-real-v1",
        query_name="streaming_approach_work_queue_real",
    )


@register(
    "multimodal_meta",
    """
    SELECT doc_id AS media_id,
           'text' AS media_type,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text payloads as binary + typed meta,
    hashed and measured through the mapInPandas feature extractor
    (decode stubbed — see operators/multimodal.py)."""
    media = M.assemble_media(
        load(spark, sf_dir, "documents"),
        id_col="doc_id",
        payload_expr="text",
        media_type="text",
        source_col="source",
    )
    feats = M.extract_features(media, fake=True)
    return feats.select(
        "media_id",
        "media_type",
        F.col("n_bytes").cast("long").alias("n_bytes"),
        "sha256",
    )


@register(
    "vocab_topk",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({NORM_SQL}, ' ')) AS token FROM documents
    )
    SELECT token, COUNT(*) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token LIMIT 20
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: explode (generator/UDTF surface) +
    global count + TakeOrdered top-20. At scale the count partial-
    aggregates map-side, so the shuffle carries one row per distinct
    token per partition, and the top-k never sorts the full vocab."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "heavy_hitters_tokens_docs",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({NORM_SQL}, ' ')) AS token FROM documents
    )
    SELECT token, COUNT(*) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token LIMIT 20
    """,
)
def heavy_hitters_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-items top-20 via the approx_top_k SKETCH (DataSketches
    ItemsSketch) instead of a full groupBy: the aggregation is one
    mergeable bounded-memory sketch per partition, so the shuffle
    carries one ~maxItemsTracked-entry sketch per map task — constant,
    NOT one row per distinct token per partition like vocab_topk's
    exact plan. That is the 100 TB heavy-hitters path: memory and
    shuffle stay flat as the vocabulary grows, with the frequent-items
    guarantee (count error <= n_tokens / maxItemsTracked, zero for any
    item when distinct <= maxItemsTracked).

    At test SF the vocabulary (~31) is far below maxItemsTracked
    (10000), so every tracked count is EXACT and the sketch returns
    all items; a deterministic re-rank (count desc, token) + limit 20
    on top makes the result byte-equal to the exact top-20 — hence the
    strict oracle. Ask for k=1000 so the sketch, not its arbitrary
    tie order, decides nothing at the boundary."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .agg(F.expr("approx_top_k(token, 1000, 10000)").alias("tk"))
        .select(F.explode("tk").alias("s"))
        .select(F.col("s.item").alias("token"), F.col("s.count").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


@register(
    "triangle_counts_events",
    """
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ), nodes AS (
      SELECT unnest([a, b, c]) AS user_id FROM tri
    )
    SELECT user_id, COUNT(*) AS n_triangles
    FROM nodes GROUP BY user_id
    """,
)
def triangle_counts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics: per-user triangle participation over the
    purchase co-occurrence graph (users sharing a same-minute
    purchase cell are adjacent — the LSH-bucket shape: edge building
    is a self-join on the cell key, bounded by cell occupancy, never
    all-pairs). Counting is operators/graphs.triangle_counts —
    degree-ordered compact-forward, whose oriented out-degree is
    O(sqrt(m)) on ANY degree distribution, so hub users cannot blow
    up the wedge join. The oracle enumerates triangles by the naive
    ordered triple join — same counts, different algorithm: an
    algebraic cross-check, not an implementation echo."""
    from ..operators.graphs import triangle_counts

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600).alias("h"),
        )
        .distinct()
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.user_id") < F.col("b.user_id")))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    return triangle_counts(edges).withColumnRenamed("node", "user_id")


def _pagerank_iter_sql(prev: str, idx: int) -> str:
    """One unrolled integer-micro PageRank iteration as CTEs (see
    operators/graphs.pagerank_micro for the arithmetic contract:
    BIGINT micros, r DIV deg contributions, 17/20 damping)."""
    return f"""
    pc{idx} AS (
      SELECT de.t AS node, SUM(r.r // dd.deg) AS cs
      FROM de JOIN {prev} r ON r.node = de.s JOIN d dd ON dd.s = de.s
      GROUP BY de.t
    ),
    pr{idx} AS (
      SELECT d.s AS node,
             CAST(150000 + (17 * COALESCE(c.cs, 0)) // 20 AS BIGINT) AS r
      FROM d LEFT JOIN pc{idx} c ON c.node = d.s
    )"""


@register(
    "pagerank_events",
    f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), de AS (
      SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
    ), d AS (
      SELECT s, COUNT(*) AS deg FROM de GROUP BY s
    ), pr0 AS (
      SELECT s AS node, CAST(1000000 AS BIGINT) AS r FROM d
    ),{_pagerank_iter_sql('pr0', 1)},{_pagerank_iter_sql('pr1', 2)},
    {_pagerank_iter_sql('pr2', 3)}
    SELECT node AS user_id, r AS rank_micro FROM pr3
    """,
)
def pagerank_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 damped iterations, d = 17/20) over the purchase
    co-occurrence graph — the influence-ranking companion of
    triangle_counts_events, and the catalog's demonstration that a
    CLASSIC iterative graph algorithm can be both fully declarative
    (no driver sync: all 3 iterations compose into one lazy plan)
    and STRICT-oracle-paired: ranks live as BIGINT micros, per-edge
    contributions are integer divisions, and the damping factor is
    the rational 17/20 — every engine computes identical integers
    (operators/graphs.pagerank_micro). The DuckDB oracle unrolls the
    3 iterations as CTEs. Scale shape: per iteration one edge join on
    the source key + one map-side-combining groupBy on the
    destination key; rank state is one row per node."""
    from ..operators.graphs import pagerank_micro

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600).alias("h"),
        )
        .distinct()
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.user_id") < F.col("b.user_id")))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    return pagerank_micro(edges, n_iter=3).withColumnRenamed(
        "node", "user_id"
    )


# Incremental connected components: the graph member of the
# incremental family (exact / minhash / embedding dedup keep history
# as fingerprints; CC keeps it as a LABEL STORE). Cell width 120 s —
# at the 600 s width pagerank/triangles use, the sf0.01 purchase
# graph is already one near-complete component and the incremental
# merge would be trivial; at 120 s it has 85 edges / 66 final
# clusters with 71 nodes relabeled across the split. The oracle is
# deliberately CUT-FREE — from-scratch reachability over the FULL
# edge log — because the operator's contract is exactness: folding
# the post-cut batch into the pre-cut labeling must land on the same
# fixpoint as never splitting at all.
_INCR_CC_ORACLE = """
    WITH RECURSIVE cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 120) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), edges AS (
      SELECT u AS src, v AS dst FROM e UNION SELECT v, u FROM e
    ), nodes AS (
      SELECT DISTINCT user_id FROM cells
    ),
    reach(id, root) AS (
      SELECT user_id, user_id FROM nodes
      UNION
      SELECT ed.dst, r.root FROM reach r JOIN edges ed ON ed.src = r.id
    )
    SELECT id AS user_id, MIN(root) AS cluster_id
    FROM reach GROUP BY id
"""


def _cc_event_parts(spark: SparkSession, sf_dir: str):
    """Shared derivation for the incremental-CC twins: the purchase
    co-occurrence graph (120 s cells) split at the midpoint hour
    into the PRE-CUT graph (whose from-scratch CC labeling seeds the
    history store) and the POST-CUT arrival edges — which further
    split at their own midpoint into two micro-batch halves for the
    streaming twin. Arrival frames carry self-loop rows per active
    user so edge-less arrivals register as singletons
    (incremental_connected_components' node-arrival encoding).
    Returns (history_labels, [arrival_edges_lo, arrival_edges_hi]);
    the one-shot batch arrival set is the union of the halves (cells
    are atomic to a half, so no edge is lost across the split)."""
    from ..operators.dedup import connected_components

    ev = load(spark, sf_dir, "events")
    # pin the cell set ONCE: bounds, both co-occurrence self-join
    # sides, the seed id set and all three arrival slices re-derive
    # this frame — without the pin each consumer re-runs the events
    # scan + distinct (measured: the whole query is fixed-latency
    # dominated, and this lineage is its widest repeated piece)
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 120).alias("h"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    bounds = cells.agg(
        F.expr("(min(h) + max(h)) DIV 2").alias("cut"),
        F.expr("((min(h) + max(h)) DIV 2 + max(h)) DIV 2").alias("cut2"),
    )
    cells = cells.crossJoin(F.broadcast(bounds))

    def _cooccur(cs):
        a, b = cs.alias("a"), cs.alias("b")
        return (
            a.join(
                b,
                (F.col("a.h") == F.col("b.h"))
                & (F.col("a.user_id") < F.col("b.user_id")),
            )
            .select(
                F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
            )
            .distinct()
        )

    def _arrivals(cs):
        return _cooccur(cs).unionByName(
            cs.select(
                F.col("user_id").alias("u"), F.col("user_id").alias("v")
            ).distinct()
        )

    old_cells = cells.filter(F.col("h") < F.col("cut"))
    history = connected_components(
        _cooccur(old_cells),
        old_cells.select("user_id").distinct(),
        id_col="user_id",
        src_col="u",
        dst_col="v",
    )
    lo = _arrivals(
        cells.filter((F.col("h") >= F.col("cut")) & (F.col("h") < F.col("cut2")))
    )
    hi = _arrivals(cells.filter(F.col("h") >= F.col("cut2")))
    return history, [lo, hi]


@register("incremental_cc_events", _INCR_CC_ORACLE)
def incremental_cc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components maintained INCREMENTALLY against a
    growing edge log (operators/graphs.
    incremental_connected_components): the pre-cut purchase
    co-occurrence graph is labeled from scratch once (the history
    store a deployment persists), then the post-cut arrival edges
    fold in by label contraction — per-batch work bounded by the
    arrivals, one map-side broadcast-remap pass over the store,
    never a re-run over the full log. Strict oracle: from-scratch
    reachability over ALL edges — exactness of the incremental
    fixpoint IS the contract under test."""
    from ..operators.graphs import incremental_connected_components

    history, arrivals = _cc_event_parts(spark, sf_dir)
    # the fold consumes history twice (representative lookup + store
    # remap) and the arrival union three times (endpoints x2, label
    # edges); pin them so each is materialized once instead of
    # re-running the labeling / co-occurrence self-joins per pass.
    # (Batch wrapper only: the streaming twin feeds each half to its
    # own micro-batch exactly once — a pin there is pure overhead.)
    new_edges = arrivals[0].unionByName(arrivals[1])
    return incremental_connected_components(
        history.localCheckpoint(eager=False),
        new_edges.localCheckpoint(eager=False),
        id_col="user_id",
        src_col="u",
        dst_col="v",
    )


@register("streaming_incremental_cc_events", _INCR_CC_ORACLE)
def streaming_incremental_cc_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """incremental_cc_events as a real stream (streaming/
    foreach_batch.stream_incremental_cc): the post-cut arrival edges
    land in TWO mtime-ordered micro-batches over a generation-keyed
    label store seeded with the pre-cut labeling. Min-label merging
    is confluent, so the drained store equals the one-shot batch
    fold — both twins share the cut-free from-scratch oracle, and
    the generation protocol makes replays byte-identical no-ops
    (each epoch reads the highest generation strictly below its own
    and overwrites its target)."""
    import hashlib
    import os

    from ..streaming.foreach_batch import stream_incremental_cc

    src = os.path.realpath(f"{sf_dir}/events.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"incrcc-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_cc_arrivals_{tag}")
    labels_root = os.path.join(base, f"spark_graft_cc_labels_{tag}")
    ckpt = os.path.join(base, f"spark_graft_cc_ckpt_{tag}")

    history, arrivals = _cc_event_parts(spark, sf_dir)
    seed = os.path.join(labels_root, "gen-0")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        # reseeding means the label store was absent/lost: a stale
        # checkpoint's offsets would mark the arrival files consumed
        # and the stream would silently fold NOTHING over the fresh
        # seed (seed-only labels = wrong result, not an error) —
        # drop the checkpoint with the store so arrivals re-fold
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
        # and the WHOLE label store: a stale higher gen-N left by an
        # interrupted longer run would win the max(gen-*) pick below
        # even after a fresh gen-0 reseed
        shutil.rmtree(labels_root, ignore_errors=True)
        history.write.mode("overwrite").parquet(seed)
    _write_ordered_stream_fixture(stream_dir, (
        ("arrivals_00.parquet", arrivals[0], 1_000_000_000),
        ("arrivals_01.parquet", arrivals[1], 1_000_000_100),
    ))

    schema = spark.read.parquet(
        os.path.join(stream_dir, "arrivals_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_incremental_cc(
        stream, labels_root, ckpt,
        query_name="streaming_incremental_cc_events",
    )
    from ..operators.similarity import _fs_glob

    latest = max(
        int(name.split("-", 1)[1])
        for name in _fs_glob(labels_root, "gen-*", spark)
        if name.split("-", 1)[1].isdigit()
    )
    return spark.read.parquet(f"{labels_root}/gen-{latest}")


@register(
    "semantic_dedup_embeddings",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
             list_transform(v, x -> ROUND(x, 6)) AS c
      FROM e ORDER BY vec_id LIMIT {{_KMEANS_K}}
    ),{{_ITER1}},{{_ITER2}},
    af AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {{_FINAL_SIMQ}} DESC, c.cid ASC) AS rn
        FROM e CROSS JOIN c2 c) WHERE rn = 1
    ),
    live AS (
      SELECT * FROM af WHERE list_dot_product(v, v) > 0
    ),
    dropped AS (
      SELECT DISTINCT a.vec_id
      FROM live a JOIN live b
        ON a.cid = b.cid AND b.vec_id < a.vec_id
      WHERE {{_COSQ}} >= 0.35
    )
    SELECT l.vec_id, l.cid AS centroid_id FROM live l
    WHERE NOT EXISTS (SELECT 1 FROM dropped dr WHERE dr.vec_id = l.vec_id)
    """.replace("{_KMEANS_K}", str(_KMEANS_K))
    .replace("{_ITER1}", _kmeans_iter_sql("c0", 1))
    .replace("{_ITER2}", _kmeans_iter_sql("c1", 2))
    .replace("{_FINAL_SIMQ}", _KMEANS_FINAL_SIMQ)
    .replace("{_COSQ}", _COS_Q_SQL.format(a="a.v", b="b.v")),
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then drop
    near-duplicates WITHIN each cluster only — the clustering bounds
    the pair search so the 100 TB cost is |cluster|^2 per cluster
    (choose k ~ N / target_cluster_size), never corpus-all-pairs.
    Survivorship is greedy-by-id (a vector is dropped iff a LOWER-id
    cluster-mate matches at quantized cosine >= 0.35), which makes
    the whole model-in-the-loop pipeline deterministic and
    STRICT-oracle-paired: the DuckDB oracle replays both Lloyd
    iterations (kmeans_clusters_embeddings' unrolled CTEs), the
    quantized-cosine assignment with id tie-breaks, and the
    within-cluster pair test with the same integer-micro dots.
    Spark-side pairing is the Arrow-batched blocked matmul
    (cosine_pairs_in_groups, grouped by cluster id — one of the
    documented pandas whitelist sites). Zero vectors are degenerate
    (no direction) and excluded."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # explicit k: the oracle unrolls Lloyd with _KMEANS_K literal
    # seeds. Real deployments call semantic_dedup(k="auto") — the
    # N/target_cell_rows dispatch that holds the |cluster|^2 pairing
    # bound linear in the corpus (pinned auto == explicit in
    # tests/test_similarity.py).
    return S.semantic_dedup(
        emb, k=_KMEANS_K, n_iter=_KMEANS_ITER, threshold=0.35
    )


def _power_iter_sql(prev: str, idx: int) -> str:
    """One unrolled power iteration as CTEs (see operators/
    similarity.power_iteration_milli): exact integer matvec
    dq = sum_d xm_d * v_d (HUGEINT), DECIMAL-exact per-dimension
    sums, truncating max-norm renormalization."""
    return f"""
    pd{idx} AS (
      SELECT vec_id, SUM(xm.xm * v.v) AS dq
      FROM xm JOIN {prev} v USING (d) GROUP BY vec_id
    ),
    ps{idx} AS (
      SELECT xm.d, SUM(CAST(p.dq AS HUGEINT) * xm.xm) AS s
      FROM xm JOIN pd{idx} p USING (vec_id) GROUP BY xm.d
    ),
    pv{idx} AS (
      SELECT d,
             (CASE WHEN s >= 0 THEN 1 ELSE -1 END) *
             ((ABS(s) * 1000) //
              GREATEST((SELECT MAX(ABS(s)) FROM ps{idx}), 1)) AS v
      FROM ps{idx}
    )"""


@register(
    "pca_power_iteration_embeddings",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    xm AS (
      SELECT vec_id, t.i AS d,
             CAST(ROUND(v[t.i + 1] * 1000, 0) AS BIGINT) AS xm
      FROM e, range(0, 64) t(i)
    ),
    pv0 AS (
      SELECT t.i AS d, CAST(1000 AS HUGEINT) AS v FROM range(0, 64) t(i)
    ),{_power_iter_sql('pv0', 1)},{_power_iter_sql('pv1', 2)},
    {_power_iter_sql('pv2', 3)}
    SELECT d, CAST(v AS BIGINT) AS v_milli FROM pv3 ORDER BY d
    """,
)
def pca_power_iteration_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dominant principal direction of the embedding corpus (top
    eigenvector of the uncentered Gram matrix X^T X) by 3 power
    iterations — the analysis primitive behind embedding whitening /
    dominant-direction removal, and the catalog's third iterative-
    fixpoint family member (Lloyd, GD, now power iteration). Fully
    STRICT-oracle-paired because every step is exact integer
    arithmetic: milli-quantized components, integer matvec dots,
    DECIMAL(38)/HUGEINT per-dimension sums (no 2^63 ceiling at any
    corpus size), truncating max-norm renormalization
    (operators/similarity.power_iteration_milli). Scale shape: one
    map-side matvec + one narrow posexplode aggregate per iteration,
    dim-row driver state."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    v = S.power_iteration_milli(emb, n_iter=3)
    return spark.createDataFrame(
        [(d, int(x)) for d, x in enumerate(v)], "d long, v_milli long"
    ).orderBy("d")


@register(
    "debias_top_direction_embeddings",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    xm AS (
      SELECT vec_id, t.i AS d,
             CAST(ROUND(v[t.i + 1] * 1000, 0) AS BIGINT) AS xm
      FROM e, range(0, 64) t(i)
    ),
    pv0 AS (
      SELECT t.i AS d, CAST(1000 AS HUGEINT) AS v FROM range(0, 64) t(i)
    ),{_power_iter_sql('pv0', 1)},{_power_iter_sql('pv1', 2)},
    {_power_iter_sql('pv2', 3)},
    vn AS (
      SELECT SUM(v * v) AS n2 FROM pv3
    ),
    dots AS (
      SELECT x.vec_id, SUM(x.xm * p.v) AS dot
      FROM xm x JOIN pv3 p USING (d) GROUP BY x.vec_id
    ),
    corr AS (
      SELECT x.vec_id, x.d, x.xm,
        CASE WHEN dt.dot * p.v >= 0 THEN (dt.dot * p.v) // vn.n2
             ELSE -((-(dt.dot * p.v)) // vn.n2) END AS c
      FROM xm x JOIN pv3 p USING (d)
        JOIN dots dt ON dt.vec_id = x.vec_id, vn
    ),
    resid AS (
      SELECT vec_id, SUM((xm - c) * (xm - c)) AS rq
      FROM corr GROUP BY vec_id
    )
    SELECT d0.vec_id,
      CAST(CASE WHEN d0.dot >= 0 THEN (d0.dot * 1000) // vn.n2
                ELSE -((-(d0.dot * 1000)) // vn.n2) END AS BIGINT)
        AS coef_milli,
      CAST(r.rq AS BIGINT) AS resid_q
    FROM dots d0 JOIN resid r USING (vec_id), vn
    """,
)
def debias_top_direction_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """All-but-the-Top dominant-direction removal (Mu & Viswanath,
    ICLR 2018) over the embedding corpus: train the top principal
    direction with the exact-integer power iteration
    (pca_power_iteration_embeddings' iterate), then project it out
    of every vector map-side (operators/similarity.
    project_out_direction) — the standard post-processing that
    de-anisotropizes embedding spaces before similarity search.
    Fully STRICT-oracle-paired end to end: the DuckDB oracle replays
    the 3 unrolled power iterations AND the integer projection
    (exact dot, truncated-toward-zero corrections, squared-residual
    sums — HUGEINT intermediates equal Spark's longs because every
    value is exact). Outputs per vector the removed component's
    coefficient (milli) and the residual's exact squared milli-norm.
    Scale shape: training is one map-side matvec + one narrow
    aggregate per iteration; the transform is one map-side
    projection, no shuffle."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.project_out_direction(emb, n_iter=3)


@register(
    "heavy_hitters_rollup_docs",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({NORM_SQL}, ' ')) AS token FROM documents
    )
    SELECT token, COUNT(*) AS n
    FROM toks GROUP BY token
    ORDER BY n DESC, token LIMIT 20
    """,
)
def heavy_hitters_rollup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable frequency-sketch CUBE: per-source
    approx_top_k_accumulate sketches, combined with
    approx_top_k_combine into the corpus-wide top-20 — the
    frequent-items dual of the HLL union rollup. At 100 TB the
    per-source (or per-day) sketch layer is materialized once, and
    every coarser rollup is a sketch combine over fixed-size states,
    never a token rescan. Same exactness argument as
    heavy_hitters_tokens_docs (distinct << maxItemsTracked at test
    SF, combine sums exact counts) + deterministic re-rank => strict
    oracle equal to the exact global top-20."""
    docs = load(spark, sf_dir, "documents")
    per_source = (
        docs.select("source", F.explode(T.tokens("text")).alias("token"))
        .groupBy("source")
        .agg(F.expr("approx_top_k_accumulate(token, 10000)").alias("sk"))
    )
    return (
        per_source.agg(
            F.expr(
                "approx_top_k_estimate(approx_top_k_combine(sk, 10000), 1000)"
            ).alias("tk")
        )
        .select(F.explode("tk").alias("s"))
        .select(F.col("s.item").alias("token"), F.col("s.count").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(20)
    )


def _hll_union_oracle() -> str:
    from ..operators.mining import hll_estimate_duck_sql, hll_rho_sql

    j_sql, rho_sql = hll_rho_sql("user_id", duck=True)
    est = hll_estimate_duck_sql("reg", ["event_type"])
    return f"""
    WITH h AS (
      SELECT CAST(ts AS DATE) AS d, event_type,
             {j_sql} AS j, {rho_sql} AS rho
      FROM events WHERE user_id IS NOT NULL
    ), daily AS (
      SELECT d, event_type, j, MAX(rho) AS rho FROM h GROUP BY 1, 2, 3
    ), reg AS (
      SELECT event_type, j, MAX(rho) AS rho FROM daily GROUP BY 1, 2
    ), nd AS (
      SELECT event_type, COUNT(DISTINCT d) AS n_days FROM daily GROUP BY 1
    ), est AS ({est})
    SELECT est.event_type, approx_users, n_days
    FROM est JOIN nd USING (event_type)
    ORDER BY event_type
    """


@register("hll_union_users_events", _hll_union_oracle())
def hll_union_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregatable distinct: per-(day, event_type) HLL register
    sketches, merged up to per-type totals by elementwise register
    MAX — distinct-user counts for any rollup period without ever
    touching the raw keys again. This is the 100 TB
    pre-aggregated-cube pattern: the daily layer is tiny (at most m
    = 64 integer rows per cell, partial-aggregated map-side), and
    every coarser period (week / month / all-time) is a register max
    over it, not a rescan of the events. Exact COUNT(DISTINCT) can't
    do this: distinct counts don't add across days.

    r12: switched from library hll_sketch_agg (opaque binary sketch,
    tolerance-band oracle only) to operators/mining.hll_registers —
    the same md5km portable-determinism doctrine as the count-min
    sketch, so every register and BOTH estimator branches (raw
    harmonic + linear-counting small-range) are STRICT-oracle
    replayed by DuckDB, bit for bit. The native DataSketches path
    stays covered by tests/test_mining.py's tolerance comparison."""
    from ..operators.mining import hll_estimate, hll_registers

    ev = load(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    daily = hll_registers(
        ev.select(F.to_date("ts").alias("d"), "event_type", "user_id"),
        ["d", "event_type"],
        "user_id",
    )
    reg = daily.groupBy("event_type", "j").agg(F.max("rho").alias("rho"))
    nd = daily.groupBy("event_type").agg(
        F.countDistinct("d").alias("n_days")
    )
    est = hll_estimate(reg, ["event_type"])
    return (
        est.join(nd, "event_type")
        .select("event_type", "approx_users", "n_days")
        .orderBy("event_type")
    )


@register(
    "fuzzy_name_pairs_customers",
    """
    WITH c AS (
      SELECT c_custkey AS id, c_name AS name FROM customer
    ), e AS (
      SELECT id, name, unnest(range(0, length(name) + 1)) AS i FROM c
    ), v AS (
      SELECT id, name,
             CASE WHEN i = 0 THEN name
                  ELSE substr(name, 1, i - 1) || substr(name, i + 1)
             END AS var
      FROM e
    ), v_cut AS (
      -- the hot-variant df-cut the Spark plan applies
      -- (operators/dedup.edit1_pairs max_variant_freq)
      SELECT id, name, var FROM v
      WHERE var NOT IN (
        SELECT var FROM v GROUP BY var HAVING COUNT(*) > 1000
      )
    ), pairs AS (
      SELECT DISTINCT a.id AS id1, a.name AS n1, b.id AS id2, b.name AS n2
      FROM v_cut a JOIN v_cut b ON a.var = b.var AND a.id < b.id
    )
    SELECT id1, id2, CAST(levenshtein(n1, n2) AS INT) AS dist
    FROM pairs WHERE levenshtein(n1, n2) <= 1
    """,
)
def fuzzy_name_pairs_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate string join: customer-name pairs within edit
    distance 1 via deletion-neighborhood blocking (operators/dedup.
    edit1_pairs) — linear variant explode + one hash join + exact
    levenshtein verify, hot variants cut at freq 1000 on both sides;
    the record-linkage primitive an edit-predicate theta join cannot
    express scalably."""
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    out = D.edit1_pairs(cust, id_col="id", text_col="name")
    return out.select("id1", "id2", F.col("dist").cast("int").alias("dist"))


@register(
    "vocab_coverage_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({NORM_SQL}, ' ')) AS token
      FROM documents
    ), counts AS (
      SELECT token, COUNT(*) AS ct FROM tok GROUP BY token
    ), vocab AS (
      SELECT token FROM counts ORDER BY ct DESC, token LIMIT 100
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           -- BIGINT cast: DuckDB SUM(CASE) is HUGEINT, which
           -- hash-mismatches Spark's bigint at the driver gate
           CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_in_vocab,
           ROUND(1.0 - CAST(SUM(CASE WHEN v.token IS NOT NULL THEN 1 ELSE 0 END)
                            AS DOUBLE) / COUNT(*), 4) AS oov_rate
    FROM tok LEFT JOIN vocab v USING (token)
    GROUP BY doc_id
    """,
)
def vocab_coverage_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-100 token vocabulary — the tokenizer-fit proxy used to flag
    documents a fixed vocab would shred into rare pieces. The vocab
    is a TakeOrdered top-k (never a full sort, deterministic
    (count desc, token) tie-break) broadcast back onto the token
    stream; the rate is a small-integer quotient rounded at 4
    decimals, so the hash is engine-portable."""
    docs = load(spark, sf_dir, "documents")
    # two consumers (vocab build + scoring join) would each re-run
    # the tokenize+explode pipeline — materialize once, same rule as
    # jaccard_pairs/contamination/repetition_stats
    tok = docs.select(
        "doc_id", F.explode(T.tokens("text")).alias("token")
    ).localCheckpoint(eager=False)
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("ct"))
        .orderBy(F.col("ct").desc(), F.col("token"))
        .limit(100)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "token", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("__in_vocab", F.lit(0))).alias("n_in_vocab"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_in_vocab",
            F.round(
                1.0 - F.col("n_in_vocab") / F.col("n_tokens"), 4
            ).alias("oov_rate"),
        )
    )


@register(
    "quantile_events",
    """
    SELECT event_type,
           ROUND(median(value), 4) AS median_value,
           ROUND(quantile_cont(value, 0.9), 4) AS p90_value,
           ROUND(quantile_cont(value, 0.99), 4) AS p99_value,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def quantile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantile aggregates (median / p90 / p99, continuous
    interpolation — Spark percentile == DuckDB quantile_cont). The
    exact form is the correctness baseline; approx_quantile_events is
    the sketch-based scale path."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.median("value"), 4).alias("median_value"),
        F.round(F.percentile("value", 0.9), 4).alias("p90_value"),
        F.round(F.percentile("value", 0.99), 4).alias("p99_value"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "islands_chunked_events",
    """
    WITH e AS (
      SELECT user_id, event_id, ts,
             CASE WHEN value > 50 THEN 1 ELSE 0 END AS f,
             COALESCE(LAG(CASE WHEN value > 50 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id), 0) AS pf
      FROM events
    ), n AS (
      SELECT user_id, event_id, f,
             SUM(CASE WHEN f = 1 AND pf <> 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island_id
      FROM e
    )
    SELECT user_id, event_id, CAST(island_id AS BIGINT) AS island_id
    FROM n WHERE f = 1
    """,
)
def islands_chunked_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-robust two-phase gaps-and-islands
    (operators/windows.islands_chunked), proven result-identical to
    the single-window form against the plain lag+cumsum oracle — the
    same plain-vs-chunked pairing as sessionize_chunked_events and
    range_window_chunked_events, closing the last near-flag window
    operator in the 20x scale smoke (plain islands ratio 26)."""
    ev = load(spark, sf_dir, "events")
    out = OW.islands_chunked(
        ev,
        "user_id",
        "ts",
        ["event_id"],
        flag=F.col("value") > 50,
        chunk_seconds=86400.0,
    )
    return out.select("user_id", "event_id", "island_id")


from .relational import ORACLES as _ORACLES  # noqa: E402


@register(
    "islands_auto_events",
    None,  # filled from islands_chunked_events' oracle just below
)
def islands_auto_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew='auto' dispatcher for gaps-and-islands
    (operators/windows.islands_auto): the same one-agg hottest-key
    probe as sessionize_auto, picking plain vs chunked islands by the
    SCALE.md switch rule — completes the auto family so no window
    operator needs a manual plain/chunked choice. Same oracle as
    islands_chunked_events (the plain lag+cumsum SQL): BOTH dispatch
    outcomes are result-identical (the plain path orders by the same
    (epoch-seconds, event_id) total order the chunked form chunks
    on); at SF scale the probe picks the plain form."""
    ev = load(spark, sf_dir, "events")
    out = OW.islands_auto(
        ev,
        "user_id",
        "ts",
        ["event_id"],
        flag=F.col("value") > 50,
    )
    return out.select("user_id", "event_id", "island_id")


_ORACLES["islands_auto_events"] = _ORACLES["islands_chunked_events"]


@register(
    "range_window_auto_events",
    None,  # filled from range_window_events' oracle just below
)
def range_window_auto_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew='auto' dispatcher for the trailing range frame
    (operators/windows.range_window_auto): hottest-key probe picks
    the plain rangeBetween frame or the two-phase chunked rewrite
    (window functions get no AQE skew splitting, so this is the only
    automatic skew escape for range frames). Same oracle as
    range_window_events — both outcomes result-identical; at SF
    scale the probe picks the plain form, whose sum is cast to
    double to keep one schema across dispatch outcomes."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    out = OW.range_window_auto(
        ev, "user_id", "ts", "value", 3600.0,
        sum_col="__s", count_col="hour_n",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("__s", 2).alias("hour_sum"),
        "hour_n",
    )


_ORACLES["range_window_auto_events"] = _ORACLES["range_window_events"]


@register(
    "outlier_events",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type
    ), mad AS (
      SELECT e.event_type, ANY_VALUE(m.med) AS med,
             median(ABS(e.value - m.med)) AS mad
      FROM events e JOIN med m USING (event_type)
      GROUP BY e.event_type
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value, 4) AS value,
           ROUND(ABS(e.value - m.med) / m.mad, 4) AS mad_score
    FROM events e JOIN mad m USING (event_type)
    WHERE m.mad > 0 AND ABS(e.value - m.med) > 3 * m.mad
    """,
)
def outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust numeric outlier detection: events farther than 3 MADs
    from their type's median — the data-cleaning primitive that mean/
    stddev z-scores get wrong (one huge outlier inflates the stddev
    and hides the rest; median and MAD have 50% breakdown). Two exact
    median passes (Spark median == DuckDB median, continuous
    interpolation) with the per-type statistics broadcast back onto
    the scan; at 100 TB swap the exact medians for percentile_approx
    exactly as approx_quantile_events does for quantile_events."""
    ev = load(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.first("med").alias("med"),
            F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"),
        )
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("value") - F.col("med")) > 3 * F.col("mad"))
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 4).alias("value"),
            F.round(
                F.abs(F.col("value") - F.col("med")) / F.col("mad"), 4
            ).alias("mad_score"),
        )
    )


_QSAMPLE_K = 1024
_QCOIN_SPARK = (
    "cast(conv(substr(md5(concat('qk:', cast(event_id as string))), "
    "1, 15), 16, 10) as bigint)"
)
_QCOIN_DUCK = (
    "CAST(concat('0x', substr(md5(concat('qk:', "
    "CAST(event_id AS VARCHAR))), 1, 15)) AS BIGINT)"
)

_APPROX_QUANTILE_ORACLE = f"""
    WITH c AS (
      SELECT event_type, event_id, value, {_QCOIN_DUCK} AS coin
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type, event_id, value FROM (
        SELECT event_type, event_id, value,
               ROW_NUMBER() OVER (PARTITION BY event_type
                   ORDER BY coin, event_id) AS rn
        FROM c) WHERE rn <= {_QSAMPLE_K}
    ),
    r AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY value, event_id) AS vr,
             COUNT(*) OVER (PARTITION BY event_type) AS m
      FROM s
    )
    SELECT event_type,
           MAX(CASE WHEN vr = (m + 1) // 2 THEN value END)
             AS median_approx,
           MAX(CASE WHEN vr = (9 * m + 9) // 10 THEN value END)
             AS p90_approx
    FROM r GROUP BY event_type
    """


@register("approx_quantile_events", _APPROX_QUANTILE_ORACLE)
def approx_quantile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles per group — the 100 TB path where
    exact quantiles would sort every group — via a DETERMINISTIC
    bottom-k uniform sample + rank-exact selection, the r14 upgrade
    that closed the catalog's LAST bounded-error row (the verdict's
    "rank-exact sampled quantile" option):

      * sample: the k=1024 rows with the smallest md5 coins per
        group (the es_key_sql w=1 coin — equal-weight E-S, i.e. a
        uniform simple random sample WITHOUT replacement, fixed size,
        mergeable bottom-k at any scale);
      * estimate: the sample value at integer rank ceil(q*m)
        ((m+1)//2 and (9m+9)//10 — pure integer arithmetic, value
        returned VERBATIM from the data, zero float math).

    Every stage replays exactly in DuckDB, so the driver gate
    hash-matches — the ENGINE's answer is exact even though it
    approximates the true quantile. Rank-error contract (bottom-k of
    a random hash is an SRS: 1-sigma rank error sqrt(q(1-q)/k) ~
    0.016 at k=1024) is pytest-held against the exact quantiles at
    q +/- 4 sigma; the library GK path (percentile_approx) stays
    covered by the same test for capability parity.

    Scale shape: narrow (group, coin, value, id) rows into one
    k-bounded-per-group window; groups of n <= k pass through whole
    (the estimate is then EXACT); the second window ranks k rows per
    group. Skew disposition = the topk_customers_per_nation family."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy(
        F.col("__coin").asc(), F.col("event_id").asc()
    )
    samp = (
        ev.select(
            "event_type",
            "event_id",
            "value",
            F.expr(_QCOIN_SPARK).alias("__coin"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _QSAMPLE_K)
    )
    wv = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    ranked = samp.withColumn("__vr", F.row_number().over(wv)).withColumn(
        "__m",
        F.count(F.lit(1)).over(Window.partitionBy("event_type")),
    )
    return ranked.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("__vr") == F.expr("(__m + 1) div 2"),
                F.col("value"),
            )
        ).alias("median_approx"),
        F.max(
            F.when(
                F.col("__vr") == F.expr("(9 * __m + 9) div 10"),
                F.col("value"),
            )
        ).alias("p90_approx"),
    )

# r14: the four trained-quantizer ANN queries (pq_topk_trained_
# embeddings, ann_ivfpq_topk, ann_ivfpq_indexed,
# streaming_ivfpq_ingest_embeddings) moved from recall-floor
# TOLERANCE_ORACLES to STRICT CTE-replay oracles (_pq_trained_oracle /
# _ivfpq_oracle above). Their recall floors vs the true cosine top-10
# (0.6, from the committed r07/r09 measurements and the
# tools/ann_recall_sweep.py operating curve) live on in
# tests/test_similarity.py::test_ann_catalog_recall_floors.

@register(
    "skew_salted_event_type_agg",
    """
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value,
           ROUND(MAX(value), 2) AS max_value
    FROM events GROUP BY event_type
    """,
)
def skew_salted_event_type_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation on a LOW-cardinality hot key
    (event_type — 5 values over the whole fact): the salt spreads
    each hot key over 16 reducers for the partial phase, the final
    phase combines 16 rows per key. Results are identical to the
    plain GROUP BY (the oracle), so the skew path is fully
    correctness-gated."""
    from ..operators import skew as SK

    ev = load(spark, sf_dir, "events")
    out = SK.salted_agg(
        ev,
        key_cols=["event_type"],
        salt_from=["event_id"],
        partial_aggs=[
            (F.count(F.lit(1)), "pn"),
            (F.sum("value"), "psum"),
            (F.max("value"), "pmax"),
        ],
        final_aggs=[
            (F.sum("pn").cast("long"), "n"),
            (F.round(F.sum("psum"), 2), "sum_value"),
            (F.round(F.max("pmax"), 2), "max_value"),
        ],
        n_salts=16,
    )
    return out.select("event_type", "n", "sum_value", "max_value")


# ---------------------------------------------------------------------------
# Corpus-preparation pipeline (operators/corpus.py)
# ---------------------------------------------------------------------------

from ..operators import corpus as C  # noqa: E402
from ..operators.corpus import SAMPLE_HASH_SQL  # noqa: E402

SAMPLE_RATES = {"src0": 500, "src1": 250, "src2": 125}
_RATE_SQL = (
    "CASE source WHEN 'src0' THEN 500 WHEN 'src1' THEN 250 "
    "WHEN 'src2' THEN 125 ELSE 50 END"
)


@register(
    "stratified_sample_docs",
    f"""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE {SAMPLE_HASH_SQL('doc_id')} < {_RATE_SQL}
    """,
)
def stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing sampler: per-source keep rates applied through a
    deterministic multiplicative hash of doc_id — map-side only, no
    RNG state, identical subset on every engine and every rerun (the
    property a resumable 100 TB pipeline actually needs)."""
    docs = load(spark, sf_dir, "documents")
    out = C.stratified_sample(docs, SAMPLE_RATES, default_permille=50)
    return out.select("doc_id", "source", "n_chars")


@register(
    "sample_k_per_source_docs",
    f"""
    SELECT doc_id, source, n_chars FROM (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY {SAMPLE_HASH_SQL('doc_id')}, doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 40
    """,
)
def sample_k_per_source_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-40 deterministic docs per source — the fixed-budget
    sampling dual of stratified_sample_docs, ranked by the shared
    engine-portable multiplicative hash. WindowGroupLimit pushdown
    caps per-group state before the reducer sort."""
    docs = load(spark, sf_dir, "documents")
    out = C.sample_k_per_group(docs, k=40)
    return out.select("doc_id", "source", "n_chars")


_PROFILE_COLS = [
    # (name, kind) — kind picks which min/max slot the column fills
    ("event_id", "num"),
    ("ts", "ts"),
    ("user_id", "num"),
    ("event_type", "str"),
    ("value", "num"),
    ("props", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for name, kind in _PROFILE_COLS:
        # DuckDB: epoch() is the timestamp->double-seconds bridge
        # (CAST(ts AS DOUBLE) is invalid there); Spark's twin is
        # CAST(ts AS DOUBLE) in the query body
        v = f"epoch({name})" if kind == "ts" else name
        if kind == "str":
            mn, mx = "CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)"
            sn, sx = f"MIN({name})", f"MAX({name})"
        else:
            mn, mx = f"CAST(MIN({v}) AS DOUBLE)", f"CAST(MAX({v}) AS DOUBLE)"
            sn, sx = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        parts.append(
            f"SELECT '{name}' AS column, "
            f"COUNT(*) - COUNT({name}) AS n_nulls, "
            f"COUNT(DISTINCT {name}) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num, "
            f"{sn} AS min_str, {sx} AS max_str FROM events"
        )
    return " UNION ALL ".join(parts)


@register("profile_columns_events", _profile_oracle())
def profile_columns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE-PASS table profiler (the ANALYZE TABLE / data-quality-audit
    shape): per-column null count, exact distinct count, and min/max —
    all columns in a single aggregation over ONE scan, reshaped to a
    row per column by an explode of literal structs (map-side). The
    naive form rescans the table once per column; at 100 TB that is
    the difference between one pass and six. The multiple DISTINCT
    aggregates compile to one Expand (rows x #distinct-columns before
    partial aggregation) — the standard Spark trade for exact multi-
    column distinct in one job; swap in approx_count_distinct per
    column when exactness isn't contractual. min/max are pure
    selections of stored values (no arithmetic), so doubles hash
    bit-identically cross-engine; ts profiles as CAST(ts AS DOUBLE)
    epoch seconds on both sides."""
    ev = load(spark, sf_dir, "events")
    # a one-file table scans as ONE partition, and the Expand (rows x
    # #distinct-columns) then runs single-task; spread the scan first
    # — at production file counts the layout already provides this
    ev = ev.repartition(shuffle_width(spark))
    aggs = []
    for name, kind in _PROFILE_COLS:
        v = F.col(name).cast("double") if kind == "ts" else F.col(name)
        aggs += [
            (F.count(F.lit(1)) - F.count(name)).alias(f"__nn_{name}"),
            F.count_distinct(F.col(name)).alias(f"__nd_{name}"),
        ]
        if kind == "str":
            aggs += [
                F.min(name).alias(f"__sn_{name}"),
                F.max(name).alias(f"__sx_{name}"),
            ]
        else:
            aggs += [
                F.min(v).cast("double").alias(f"__mn_{name}"),
                F.max(v).cast("double").alias(f"__mx_{name}"),
            ]
    one = ev.agg(*aggs)
    structs = []
    for name, kind in _PROFILE_COLS:
        num = kind != "str"
        structs.append(
            F.struct(
                F.lit(name).alias("column"),
                F.col(f"__nn_{name}").alias("n_nulls"),
                F.col(f"__nd_{name}").alias("n_distinct"),
                (F.col(f"__mn_{name}") if num
                 else F.lit(None).cast("double")).alias("min_num"),
                (F.col(f"__mx_{name}") if num
                 else F.lit(None).cast("double")).alias("max_num"),
                (F.col(f"__sn_{name}") if not num
                 else F.lit(None).cast("string")).alias("min_str"),
                (F.col(f"__sx_{name}") if not num
                 else F.lit(None).cast("string")).alias("max_str"),
            )
        )
    return one.select(F.explode(F.array(*structs)).alias("s")).select("s.*")


_BPE_MERGE_CACHE: dict = {}


def _bpe_merges_cached(spark, sf_dir: str, n_merges: int = 3):
    """Train-once-apply-many: both BPE queries (and any future
    tokenize consumer) share one trained merge list per corpus
    generation — keyed on the documents file's identity+mtime like
    the stream fixtures, because at 100 TB the merges ARE the
    artifact (trained once, applied inline in every ingest scan)."""
    import os

    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    key = (src, getattr(st, "st_mtime_ns", 0), n_merges)
    if key not in _BPE_MERGE_CACHE:
        _BPE_MERGE_CACHE[key] = C.bpe_train_merges(
            load(spark, sf_dir, "documents"), n_merges=n_merges
        )
    return _BPE_MERGE_CACHE[key]


def _bpe_pairs_cte(src: str) -> str:
    return (
        f"SELECT p[1] AS l, p[2] AS r, COUNT(*) AS n FROM ("
        f"  SELECT unnest(list_transform(range(1, len(tk)),"
        f"                i -> [tk[i], tk[i + 1]])) AS p"
        f"  FROM (SELECT string_split(trim(seq), ' ') AS tk FROM {src})"
        f") GROUP BY 1, 2 ORDER BY n DESC, l, r LIMIT 1"
    )


def _bpe_oracle(n_merges: int) -> str:
    # every CTE is MATERIALIZED: each s{r}/m{r} is referenced twice
    # (the next rewrite and the final UNION), and DuckDB's default
    # inlining re-expands the whole chain per reference — the scan
    # count doubles every round (2^16 parquet opens at 16 merges,
    # which dies on fd limits long before it dies on CPU)
    ctes = [
        f"s0 AS MATERIALIZED"
        f" (SELECT ' ' || {NORM_SQL} || ' ' AS seq FROM documents)"
    ]
    finals = []
    for r in range(n_merges):
        ctes.append(f"m{r} AS MATERIALIZED ({_bpe_pairs_cte(f's{r}')})")
        ctes.append(
            f"s{r + 1} AS MATERIALIZED (SELECT replace(seq,"
            f" ' ' || m{r}.l || ' ' || m{r}.r || ' ',"
            f" ' ' || m{r}.l || chr(31) || m{r}.r || ' ') AS seq"
            f" FROM s{r}, m{r})"
        )
        finals.append(f"SELECT {r} AS merge_round, l, r, n FROM m{r}")
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(finals)


@register("bpe_merges_docs", _bpe_oracle(16))
def bpe_merges_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE-style merge training (16 rounds) over the corpus —
    unlike token_count_bpe's regex approximation, this runs the
    actual iterative algorithm: count adjacent symbol pairs
    corpus-wide, fuse the argmax pair everywhere, repeat
    (operators/corpus.bpe_train_merges). Oracle = the SAME 16
    rounds unrolled as programmatically generated DuckDB CTEs (the Lloyd-oracle trick), which
    works because pair counting, the (count desc, left, right)
    tie-break, and replace()'s leftmost-no-rescan overlap semantics
    are all engine-identical. Each round is one distributed pass with
    a ONE-row driver collect — the bounded iterative-trainer
    envelope."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    merges = _bpe_merges_cached(spark, sf_dir, n_merges=16)
    schema = StructType([
        StructField("merge_round", IntegerType()),
        StructField("l", StringType()),
        StructField("r", StringType()),
        StructField("n", LongType()),
    ])
    return spark.createDataFrame(
        [(r, l, rr, n) for r, l, rr, n in merges], schema
    )


def _bpe_tokenize_oracle(n_merges: int) -> str:
    # MATERIALIZED for the same reason as _bpe_oracle: doubly
    # referenced CTEs inline exponentially at 16 rounds
    ctes = [f"s0 AS MATERIALIZED (SELECT doc_id,"
            f" ' ' || {NORM_SQL} || ' ' AS seq FROM documents)"]
    for r in range(n_merges):
        ctes.append(
            f"m{r} AS MATERIALIZED ({_bpe_pairs_cte(f's{r}')})"
        )
        ctes.append(
            f"s{r + 1} AS MATERIALIZED (SELECT doc_id, replace(seq,"
            f" ' ' || m{r}.l || ' ' || m{r}.r || ' ',"
            f" ' ' || m{r}.l || chr(31) || m{r}.r || ' ') AS seq"
            f" FROM s{r}, m{r})"
        )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT doc_id,"
        f" len(string_split(trim(s0.seq), ' ')) AS n_before,"
        f" len(string_split(trim(s{n_merges}.seq), ' ')) AS n_after"
        f" FROM s0 JOIN s{n_merges} USING (doc_id)"
    )


@register("bpe_tokenize_docs", _bpe_tokenize_oracle(16))
def bpe_tokenize_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply half of BPE: train 16 merges (iterative, bounded
    driver state), then tokenize the corpus with
    operators/corpus.bpe_apply — a pure map-side replace() chain
    folded into one projection, so at 100 TB the tokenizer runs
    inline in any ingest scan with zero extra shuffles. Emits per-doc
    symbol counts before/after merging (the compression the learned
    merges buy). Oracle re-derives the same merges via the unrolled
    CTEs and applies them with the same replace() semantics."""
    docs = load(spark, sf_dir, "documents")
    merges = _bpe_merges_cached(spark, sf_dir, n_merges=16)
    out = C.bpe_apply(docs, merges)
    return out.select(
        "doc_id",
        F.size(T.tokens("text")).alias("n_before"),
        F.size("symbols").alias("n_after"),
    )


@register(
    "temperature_mix_docs",
    f"""
    WITH g AS (
      SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
    ), s AS (
      SELECT lang, n, CAST(FLOOR(SQRT(n)) AS BIGINT) AS fq FROM g
    ), s2 AS (
      SELECT lang, n,
             fq - CASE WHEN fq * fq > n THEN 1 ELSE 0 END AS dn
      FROM s
    ), w AS (
      SELECT lang, n,
             dn + CASE WHEN (dn + 1) * (dn + 1) <= n THEN 1 ELSE 0 END AS iq
      FROM s2
    ), t AS (
      SELECT SUM(n) AS tt, SUM(iq) AS sw FROM w
    ), b AS (
      SELECT lang, (t.tt * w.iq) // t.sw AS k FROM w, t
    ), ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {SAMPLE_HASH_SQL('doc_id')}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.lang
    FROM ranked r JOIN b ON r.lang = b.lang
    WHERE r.rn <= b.k
    """,
)
def temperature_mix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) corpus mixing over the skewed lang
    distribution: the dominant language's share shrinks toward
    sqrt-proportional while small languages keep (up to) everything —
    the standard multilingual rebalancing. Budgets are INTEGER-ONLY
    (floor-sqrt weights, integer floor-division) so both engines
    compute bit-identical k per group; see
    operators/corpus.temperature_mix for why pow() is banned here."""
    docs = load(spark, sf_dir, "documents")
    out = C.temperature_mix(docs, group_col="lang")
    return out.select("doc_id", "lang")


@register(
    "pack_sequences_docs",
    f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split({NORM_SQL}, ' ')) AS n_tok
      FROM documents
    ), c AS (
      SELECT doc_id, source, n_tok,
             SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tape_end
      FROM t WHERE n_tok > 0
    )
    SELECT doc_id, source, n_tok,
           CAST(tape_end - n_tok AS BIGINT)          AS start_off,
           CAST((tape_end - n_tok) // 256 AS BIGINT) AS chunk_first,
           CAST((tape_end - 1) // 256 AS BIGINT)     AS chunk_last
    FROM c
    """,
)
def pack_sequences_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: per-source token tape,
    256-token chunks; emits each doc's tape offset and chunk span.
    One window shuffle; exact integer division for chunk ids (tape
    offsets pass 2^53 long before 100 TB does)."""
    docs = load(spark, sf_dir, "documents")
    return C.pack_sequences(docs, budget=256)


# End-to-end corpus-prep parameters: minimum quality-gate length and
# the packing budget (tokens per training chunk)
_PREP_MIN_TOK = 10
_PREP_BUDGET = 512


@register(
    "corpus_prep_pipeline_docs",
    f"""
    WITH q AS (
      SELECT doc_id, lang,
             len(string_split({NORM_SQL}, ' ')) AS n_tok,
             md5({NORM_SQL}) AS fp
      FROM documents
      WHERE len(string_split({NORM_SQL}, ' ')) >= {_PREP_MIN_TOK}
    ),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM q GROUP BY fp),
    d AS (SELECT q.doc_id, q.lang, q.n_tok FROM q JOIN keepers USING (doc_id)),
    g AS (SELECT lang, COUNT(*) AS n FROM d GROUP BY lang),
    s AS (SELECT lang, n, CAST(FLOOR(SQRT(n)) AS BIGINT) AS fq FROM g),
    s2 AS (SELECT lang, n,
                  fq - CASE WHEN fq * fq > n THEN 1 ELSE 0 END AS dn FROM s),
    w AS (SELECT lang, n,
                 dn + CASE WHEN (dn + 1) * (dn + 1) <= n
                      THEN 1 ELSE 0 END AS iq FROM s2),
    t AS (SELECT SUM(n) AS tt, SUM(iq) AS sw FROM w),
    b AS (SELECT lang, (t.tt * w.iq) // t.sw AS k FROM w, t),
    ranked AS (
      SELECT doc_id, lang, n_tok,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY {SAMPLE_HASH_SQL('doc_id')}, doc_id) AS rn
      FROM d
    ),
    mixed AS (
      SELECT r.doc_id, r.lang, r.n_tok FROM ranked r JOIN b USING (lang)
      WHERE r.rn <= b.k
    ),
    packed AS (
      SELECT lang, n_tok,
             SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tape_end
      FROM mixed
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(MAX((tape_end - 1) // {_PREP_BUDGET}) + 1 AS BIGINT)
             AS n_chunks
    FROM packed GROUP BY lang
    """,
)
def corpus_prep_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus preparation in ONE declarative plan — the
    LLM-data counterpart of approach_pipeline_demo: quality gate
    (>= 10 normalized tokens) -> exact dedup keeping the
    smallest doc_id per md5 fingerprint (16-byte shuffle keys, never
    bodies) -> temperature (alpha=0.5) language rebalancing with
    exact-integer-sqrt budgets -> per-language token-tape packing
    into 512-token chunks -> per-language shard statistics. Every
    stage reuses a catalog operator (dedup.exact_dedup's fingerprint,
    corpus.temperature_mix, corpus.pack_sequences) and every stage is
    engine-portable, so the WHOLE pipeline carries one strict value
    oracle. Scale shape: the dedup is one fingerprint-keyed shuffle
    (16-byte keys) + a semi join back on doc_id; the survivors are
    lazily localCheckpoint'd — the mix/pack tail fans out into the
    budget aggregate, the rank window and the tape window, and
    without the materialization each branch re-derives the whole
    gate+dedup prefix (the knn_graph materialize-the-shared-frame
    doctrine; this is also exactly the point a 100 TB pipeline would
    persist its cleaned corpus). Downstream: one lang-keyed window
    pair, budgets via a broadcast one-row scalar, no collects."""
    docs = load(spark, sf_dir, "documents")
    q = docs.withColumn(
        "n_tok", T.token_count("text").cast("long")
    ).filter(F.col("n_tok") >= _PREP_MIN_TOK)
    keep = (
        q.select("doc_id", T.fingerprint_md5("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    d = q.join(keep.select("doc_id"), "doc_id", "left_semi").localCheckpoint(
        eager=False
    )
    mix = C.temperature_mix(d, group_col="lang")
    packed = C.pack_sequences(mix, budget=_PREP_BUDGET, group_col="lang")
    return packed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
        (F.max("chunk_last") + 1).cast("bigint").alias("n_chunks"),
    )


@register(
    "contamination_check_docs",
    f"""
    WITH {_SHINGLE_SQL},
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 23 = 0),
    train AS (SELECT doc_id, s FROM sh WHERE doc_id % 23 <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_overlap
      FROM train t JOIN eval_sh e ON t.s = e.s GROUP BY 1
    )
    SELECT s.doc_id, s.n_shingles,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           ROUND(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / s.n_shingles, 4)
             AS contamination
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    WHERE COALESCE(h.n_overlap, 0) > 0
    """,
)
def contamination_check_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: every 23rd document plays the
    held-out eval set; per train doc, the count and fraction of its
    distinct 3-shingles that appear anywhere in the eval set —
    broadcast inverted-index join, no pairwise comparison."""
    docs = load(spark, sf_dir, "documents")
    out = C.contamination(
        docs.filter(F.pmod("doc_id", F.lit(23)) != 0),
        docs.filter(F.pmod("doc_id", F.lit(23)) == 0),
        k=SHINGLE_K,
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round("contamination", 4).alias("contamination"),
    )


@register(
    "contamination_bloom_docs",
    f"""
    WITH {_SHINGLE_SQL},
    eval_sh AS (SELECT DISTINCT s FROM sh WHERE doc_id % 23 = 0),
    train AS (SELECT doc_id, s FROM sh WHERE doc_id % 23 <> 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY 1),
    hits AS (
      SELECT t.doc_id, COUNT(*) AS n_overlap
      FROM train t JOIN eval_sh e ON t.s = e.s GROUP BY 1
    )
    SELECT s.doc_id, s.n_shingles,
           COALESCE(h.n_overlap, 0) AS n_overlap,
           ROUND(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE) / s.n_shingles, 4)
             AS contamination
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    WHERE COALESCE(h.n_overlap, 0) > 0
    """,
)
def contamination_bloom_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contamination_check_docs through the bloom-prefilter scale
    path (operators/bloom): the eval shingle set is compressed to a
    bit-literal tested inside the train scan's codegen stage, so at
    an eval set too big to broadcast only the ~0.1%-selectivity
    survivor stream shuffles into the exact verify join. The bloom
    admits no false negatives and the verify join removes its false
    positives, so this query shares contamination_check_docs' oracle
    verbatim — the driver gate proves the pre-filter changes nothing
    but the shuffle volume."""
    docs = load(spark, sf_dir, "documents")
    out = C.contamination_bloom(
        docs.filter(F.pmod("doc_id", F.lit(23)) != 0),
        docs.filter(F.pmod("doc_id", F.lit(23)) == 0),
        k=SHINGLE_K,
    )
    return out.select(
        "doc_id",
        "n_shingles",
        "n_overlap",
        F.round("contamination", 4).alias("contamination"),
    )


@register(
    "chunk_docs",
    f"""
    WITH t AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ), c AS (
      SELECT doc_id, toks, len(toks) AS n_tok,
             CASE WHEN len(toks) <= 64 THEN 1
                  ELSE 1 + (len(toks) - 64 + 47) // 48 END AS nc
      FROM t
    ), x AS (
      SELECT doc_id, toks, n_tok, unnest(range(nc)) AS chunk_id FROM c
    )
    SELECT doc_id, n_tok, chunk_id,
           chunk_id * 48 AS start_tok,
           LEAST(64, n_tok - chunk_id * 48) AS chunk_len,
           array_to_string(
             list_slice(toks, chunk_id * 48 + 1, chunk_id * 48 + 64), ' '
           ) AS chunk_text
    FROM x
    """,
)
def chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (64-token chunks,
    16-token overlap => stride 48): the context-window prep step for
    long documents, dual of pack_sequences for short ones. Pure
    map-side explode — zero shuffle (PLANS.md shows xchg 0)."""
    docs = load(spark, sf_dir, "documents")
    return C.chunk_documents(docs, chunk_tokens=64, overlap=16)


@register(
    "knn_graph_embeddings",
    f"""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE list_dot_product(embedding, embedding) > 0
    ), b AS (
      SELECT vec_id, v, ({_plane_bucket_sql('v')}) AS bucket FROM e
    ), scored AS (
      SELECT a.vec_id AS qid, c.vec_id AS nid,
             ROUND({_COS_Q_SQL.format(a='a.v', b='c.v')}, 4) + 0.0 AS cosine
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    )
    SELECT qid, nid, cosine FROM (
      SELECT qid, nid, cosine,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cosine DESC, nid) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def knn_graph_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph over the whole embedding corpus (top-3 neighbors
    per vector within its LSH bucket) — the all-queries shape where
    ann_topk_batch's broadcast query block stops scaling. Bucket
    self-join is linear in |vectors|; the literal hyperplanes make
    even this approximate path fully oracle-paired (the DuckDB twin
    recomputes identical sign-bit buckets)."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.knn_graph_lsh(emb, LSH_PLANES, k=3)


# ---------------------------------------------------------------------------
# r11 additions: k-core, DSIR-style selection, nearest-centroid classify
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 4  # fixpoint at sf0.01 is round 3; tests pin it
_KCORE_CELL = 300


def _kcore_peel_sql(prev: str, idx: int) -> str:
    """One unrolled peel round as CTEs: surviving-degree filter, then
    keep only edges whose BOTH endpoints survive."""
    return f"""
    d{idx} AS (
      SELECT s FROM {prev} GROUP BY s HAVING COUNT(*) >= {_KCORE_K}
    ),
    e{idx} AS (
      SELECT s, t FROM {prev}
      WHERE s IN (SELECT s FROM d{idx}) AND t IN (SELECT s FROM d{idx})
    )"""


@register(
    "kcore_users_events",
    f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / {_KCORE_CELL}) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), eu AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), e0 AS (
      SELECT u AS s, v AS t FROM eu UNION ALL SELECT v, u FROM eu
    ),{_kcore_peel_sql('e0', 1)},{_kcore_peel_sql('e1', 2)},
    {_kcore_peel_sql('e2', 3)},{_kcore_peel_sql('e3', 4)}
    SELECT s AS user_id, COUNT(*) AS core_deg FROM e4 GROUP BY s
    """,
)
def kcore_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the purchase co-occurrence graph (operators/graphs.
    kcore) — iterative peeling: drop nodes with surviving degree < 2
    until stable. The graph-side quality filter (leaf/chain spam tail
    removal) joining CC / triangles / PageRank as the fourth classic
    graph operator, and the second iterative-graph family member with
    a FIXED-ROUND twin: the catalog pins 4 peels (fixpoint at gate SF
    is 3 — tests assert rounds 3 and 4 agree, so this IS the k-core),
    while the n_rounds=None production mode peels to fixpoint with
    one extra scalar driver sync per round (both modes materialize
    per round — see operators/graphs.kcore on why lazy chaining is
    fragile at scale).
    Cell width 300 s (not pagerank's 600) so the peeling is
    non-trivial at sf0.01: 398 directed edges -> 326, 105 survivors.
    The DuckDB oracle unrolls the same 4 rounds as CTEs. Scale shape:
    per round one map-side-combining degree groupBy + two semi-joins
    on the edge table's own keys — surviving-edge state only, nothing
    driver-resident."""
    from ..operators.graphs import kcore

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / _KCORE_CELL).alias("h"),
        )
        .distinct()
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.user_id") < F.col("b.user_id")))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    return kcore(edges, k=_KCORE_K, n_rounds=_KCORE_ROUNDS).withColumnRenamed(
        "node", "user_id"
    )


_DSIR_B = 1024


@register(
    "dsir_select_docs",
    f"""
    WITH d AS (
      SELECT doc_id, lang, string_split({NORM_SQL}, ' ') AS toks
      FROM documents
    ),
    uni AS (SELECT doc_id, lang, unnest(toks) AS g FROM d),
    bi AS (
      SELECT doc_id, lang, array_to_string(toks[i:i+1], ' ') AS g
      FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i
            FROM d WHERE len(toks) >= 2)
    ),
    grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    bg AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {_DSIR_B} AS b
      FROM grams
    ),
    cnt AS (
      SELECT b, COUNT(*) AS r,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
      FROM bg GROUP BY b
    ),
    w AS (
      SELECT b, CAST(((t + 1) * 1000000) // (r + {_DSIR_B}) AS BIGINT) AS w
      FROM cnt
    ),
    sc AS (
      SELECT doc_id, CAST(SUM(w) // COUNT(*) AS BIGINT) AS w_avg
      FROM bg JOIN w USING (b) GROUP BY doc_id
    ),
    mm AS (SELECT MIN(w_avg) AS lo, MAX(w_avg) AS hi FROM sc)
    SELECT doc_id, w_avg,
           CAST(((w_avg - lo) * 1000) // (hi - lo + 1) AS BIGINT)
             AS keep_permille
    FROM sc, mm
    WHERE {{_HASH}} < ((w_avg - lo) * 1000) // (hi - lo + 1)
    """.replace("{_HASH}", _SAMPLE_HASH_SQL("doc_id")),
)
def dsir_select_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection (operators/corpus.
    dsir_importance_select; Xie et al., "Data Selection for Language
    Models via Importance Resampling", NeurIPS 2023): score every
    document by its hashed-n-gram (unigram+bigram, 1024 buckets via
    the md5km engine-portable hash) affinity to the target domain
    (lang='en'), then keep it with probability proportional to the
    min-max-scaled importance weight — the deterministic-coin
    resampling quality_weighted_sample uses, so the selected subset
    is reproducible bit-for-bit. Integer-exact variant: Laplace-
    smoothed integer ratio weights instead of log-likelihood ratios
    (rank-monotone, no libm), per-gram average score (length-
    normalized). The DuckDB oracle replays the whole chain. Scale:
    explode -> bucket-keyed and doc-keyed map-side-combining
    aggregates, a 1024-row broadcast weight dim, a 1-row broadcast
    min/max, one map-side filter — no global sort, no RNG state."""
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents")
    return C.dsir_importance_select(
        docs, target=F.col("lang") == "en", n_buckets=_DSIR_B
    )


_CENTROID_SIMQ = (
    "ROUND(list_dot_product(e.v, c.c) / "
    "(SQRT(list_dot_product(e.v, e.v)) * SQRT(list_dot_product(c.c, c.c)))"
    ", 6)"
)


@register(
    "centroid_classify_embeddings",
    f"""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT label, t.i AS i,
             SUM(CAST(ROUND(v[t.i + 1] * 1000000, 0) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM e, range(0, {_KMEANS_DIM}) t(i)
      GROUP BY label, t.i
    ),
    c AS (
      SELECT label AS cid,
             list(CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) *
                       ((2 * ABS(s) + n) // (2 * n)) AS DOUBLE)
                  / 1000000.0 ORDER BY i) AS c
      FROM s GROUP BY label
    ),
    a AS (
      SELECT vec_id, label, cid FROM (
        SELECT e.vec_id, e.label, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_CENTROID_SIMQ} DESC, c.cid ASC) AS rn
        FROM e CROSS JOIN c) WHERE rn = 1
    )
    SELECT label, cid AS predicted_label, COUNT(*) AS n_vecs
    FROM a GROUP BY 1, 2
    """,
)
def centroid_classify_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio/prototype) classification
    self-evaluation over the labeled embeddings (operators/
    similarity.centroid_classify): per-label integer-micro prototype
    means, quantized-cosine argmax assignment (ties to the lowest
    label), confusion-matrix counts — the cheap linear probe run to
    judge embedding quality before building ANN indexes or training
    classifiers at 100 TB. Same determinism chain as kmeans
    (integer-micro means, round(cosine, 6)), so the confusion counts
    are STRICT-oracle-paired. Scale: one narrow posexplode aggregate
    (n_labels x dim driver codebook) + map-side broadcast-literal
    assignment + one two-key groupBy."""
    emb = load(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return S.centroid_classify(emb)


@register(
    "gopher_rules_docs",
    f"""
    WITH d AS (
      SELECT doc_id, string_split({NORM_SQL}, ' ') AS toks FROM documents
    ),
    m AS (
      SELECT doc_id, len(toks) AS n,
             CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT)
               AS sl,
             len(list_filter(toks, t -> t IN
                 ('the','a','of','to','and','in','is','it'))) AS sw,
             len(list_filter(toks, t -> regexp_matches(t, '^[a-z]+$')))
               AS na,
             len(list_filter(toks, t -> t IN ('#','...'))) AS sym
      FROM d
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_words,
           CAST(n >= 20 AND n <= 80 AS INT) AS r_count,
           CAST(sl >= 4 * n AND sl <= 5 * n AS INT) AS r_wordlen,
           CAST(sw >= 2 AS INT) AS r_stop,
           CAST(10 * na >= 8 * n AS INT) AS r_alpha,
           CAST(1000 * sym <= 100 * n AS INT) AS r_symbol,
           CAST(n >= 20 AND n <= 80 AND sl >= 4 * n AND sl <= 5 * n
                AND sw >= 2 AND 10 * na >= 8 * n
                AND 1000 * sym <= 100 * n AS INT) AS passed
    FROM m
    """,
)
def gopher_rules_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (operators/corpus.
    gopher_quality_flags; Rae et al. 2021 Appendix A1.1) — the named
    rule set most corpus pipelines run before any trained classifier:
    word-count bounds, mean-word-length bounds, stop-word presence,
    alphabetic-token fraction, symbol-to-word ratio. Every rule is
    exact integer/rational arithmetic (cross-multiplied bounds, no
    float ratios), so the per-rule flags and the composite are
    STRICT-oracle-paired. Bounds here are tuned to the gate corpus
    (10-99 words, mean token length 3.7-5.3) so both pass and fail
    populations are non-empty; the operator's defaults are the
    paper's. Scale: one tokenization, all rules map-side column
    expressions over it — zero shuffles, zero UDFs (PLANS.md xchg 0
    for this query's pre-sort plan)."""
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents")
    out = C.gopher_quality_flags(
        docs,
        min_words=20,
        max_words=80,
        min_mean_len=4,
        max_mean_len=5,
    )
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        "r_count", "r_wordlen", "r_stop", "r_alpha", "r_symbol", "passed",
    )


from ..functions.layout import zorder_key_sql as _zk_sql  # noqa: E402

_Z_BITS = 10
_Z_X = "((user_id % 1024) + 1024) % 1024"
_Z_Y_SPARK = "((CAST(unix_timestamp(ts) DIV 3600 AS BIGINT) % 1024) + 1024) % 1024"
_Z_Y_DUCK = "((CAST(FLOOR(epoch(ts) / 3600) AS BIGINT) % 1024) + 1024) % 1024"


@register(
    "zorder_layout_events",
    f"""
    WITH z AS (
      SELECT {_zk_sql(_Z_X, _Z_Y_DUCK, _Z_BITS)} AS zkey,
             {_Z_X} AS x, {_Z_Y_DUCK} AS y
      FROM events
    )
    SELECT CAST(zkey >> 12 AS BIGINT) AS z_bucket,
           COUNT(*) AS n_events,
           CAST(MIN(x) AS BIGINT) AS min_user_cell,
           CAST(MAX(x) AS BIGINT) AS max_user_cell,
           CAST(MIN(y) AS BIGINT) AS min_hour_cell,
           CAST(MAX(y) AS BIGINT) AS max_hour_cell
    FROM z GROUP BY 1
    """,
)
def zorder_layout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user bucket, hour
    bucket) — the multi-dimensional layout technique lakehouse
    OPTIMIZE ... ZORDER BY implements (functions/layout.zorder_key):
    files sorted by the interleaved key give parquet min/max pruning
    on EITHER dimension, where a lexicographic sort only prunes its
    leading column. The query groups events by the key's top 8 bits
    and reports each bucket's bounding rectangle: by construction
    every bucket spans at most 2^6 = 64 cells in EACH dimension
    (tests pin it) — the bounded-rectangle property that makes the
    pruning work. Pure integer bit arithmetic as one parsed
    expression on both engines, STRICT-oracle-paired. Scale: one
    map-side key computation + one groupBy; writing data sorted by
    zkey (sinks.write_layout cluster_by) is the production use."""
    from ..functions.layout import zorder_key

    ev = load(spark, sf_dir, "events")
    z = ev.select(
        zorder_key(_Z_X, _Z_Y_SPARK, _Z_BITS).alias("zkey"),
        F.expr(_Z_X).alias("x"),
        F.expr(_Z_Y_SPARK).alias("y"),
    )
    return z.groupBy(
        F.expr("zkey >> 12").cast("long").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("x").cast("long").alias("min_user_cell"),
        F.max("x").cast("long").alias("max_user_cell"),
        F.min("y").cast("long").alias("min_hour_cell"),
        F.max("y").cast("long").alias("max_hour_cell"),
    )


_KTRUSS_K = 4
_KTRUSS_ROUNDS = 3  # fixpoint at sf0.01 is round 2; tests pin it
_KTRUSS_CELL = 600


def _ktruss_round_sql(prev: str, idx: int) -> str:
    """One unrolled support-peel round as CTEs: directed view,
    common-neighbor support count (inner — zero-support edges drop
    by absence), threshold filter keeping the support column."""
    return f"""
    d{idx} AS (
      SELECT u AS s, v AS t FROM {prev}
      UNION ALL SELECT v, u FROM {prev}
    ),
    s{idx} AS (
      SELECT e.u, e.v, COUNT(*) AS support FROM {prev} e
      JOIN d{idx} x ON x.s = e.u
      JOIN d{idx} y ON y.s = e.v AND y.t = x.t
      GROUP BY e.u, e.v
    ),
    t{idx} AS (
      SELECT u, v, support FROM s{idx} WHERE support >= {_KTRUSS_K - 2}
    )"""


def _ktruss_round_sql_mat(prev: str, idx: int) -> str:
    """MATERIALIZED twin of _ktruss_round_sql for the large-sf scaled
    oracle: each round references its predecessor three times (the
    directed view twice + the support probe), so DuckDB's default
    inlining re-expands the whole chain per reference and the
    3-round unroll compounds — the r14 sf1 sweep died on the 48 GB
    cap here (456k edges). With per-round materialization the same
    SQL runs in 9.3 s inside a 24 GB cap. Identical semantics,
    identical text modulo the hints — the cheapest kind of scaled
    oracle."""
    return f"""
    d{idx} AS MATERIALIZED (
      SELECT u AS s, v AS t FROM {prev}
      UNION ALL SELECT v, u FROM {prev}
    ),
    s{idx} AS MATERIALIZED (
      SELECT e.u, e.v, COUNT(*) AS support FROM {prev} e
      JOIN d{idx} x ON x.s = e.u
      JOIN d{idx} y ON y.s = e.v AND y.t = x.t
      GROUP BY e.u, e.v
    ),
    t{idx} AS MATERIALIZED (
      SELECT u, v, support FROM s{idx} WHERE support >= {_KTRUSS_K - 2}
    )"""


SCALED_ORACLES["ktruss_users_events"] = f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / {_KTRUSS_CELL}) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), t0 AS MATERIALIZED (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ),{_ktruss_round_sql_mat('t0', 1)},{_ktruss_round_sql_mat('t1', 2)},
    {_ktruss_round_sql_mat('t2', 3)}
    SELECT u, v, support FROM t3
    """


@register(
    "ktruss_users_events",
    f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / {_KTRUSS_CELL}) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), t0 AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ),{_ktruss_round_sql('t0', 1)},{_ktruss_round_sql('t1', 2)},
    {_ktruss_round_sql('t2', 3)}
    SELECT u, v, support FROM t3
    """,
)
def ktruss_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the purchase co-occurrence graph (operators/graphs.
    ktruss; Cohen 2008) — edge-support peeling: drop every edge in
    fewer than 2 surviving triangles until stable. The edge-cohesion
    sharpening of kcore_users_events (a k-truss lives inside the
    (k-1)-core) and the fifth classic graph operator (CC, triangles,
    PageRank, k-core, k-truss). Pins 3 peel rounds (fixpoint at gate
    SF is 2 — tests assert rounds 2 and 3 agree); the DuckDB oracle
    unrolls the same 3 rounds with common-neighbor support counts,
    while the Spark side enumerates triangles degree-ordered
    (arboricity-bounded wedge join, hub-proof) and explodes each into
    its three edges — identical support integers, different join
    shape by design. Non-trivial at sf0.01: 432 -> 33 -> 6 edges."""
    from ..operators.graphs import ktruss

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / _KTRUSS_CELL).alias("h"),
        )
        .distinct()
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.user_id") < F.col("b.user_id")))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    return ktruss(edges, k=_KTRUSS_K, n_rounds=_KTRUSS_ROUNDS)


@register(
    "allpairs_jaccard_prefix_docs",
    f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS c
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id1, id2,
           ROUND(CAST(c AS DOUBLE) / (s1.n + s2.n - c), 6) AS jaccard
    FROM common
      JOIN sizes s1 ON common.id1 = s1.doc_id
      JOIN sizes s2 ON common.id2 = s2.doc_id
    WHERE c * 2 >= 1 * (s1.n + s2.n - c)
    """,
)
def allpairs_jaccard_prefix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 1/2 all-pairs join via PREFIX FILTERING
    (operators/dedup.allpairs_jaccard_prefix; Bayardo et al. 2007):
    each doc indexes only its n - ceil(n/2) + 1 rarest shingles —
    every qualifying pair provably collides in the pruned index, and
    candidates verify against full sets, so the result is EXACTLY the
    brute-force join. The oracle IS brute force (full inverted-index
    self-join, no prefix, no df-cut): hash-matching it is the
    exactness proof of the pruning, the same sound-approximation-
    with-exact-contract doctrine as the gridded argmin's fallback.
    Note the oracle's sh CTE is DISTINCT doc-shingles and the Spark
    side sets as_string=False (hashed shingles) — the canonical
    prefix ORDER differs across engines, but order only selects
    candidates, never the verified result."""
    from ..operators import dedup as D

    docs = load(spark, sf_dir, "documents")
    return D.allpairs_jaccard_prefix(
        docs, k=SHINGLE_K, threshold_num=1, threshold_den=2
    )


@register(
    "snm_blocking_pairs_customers",
    """
    WITH c AS (
      SELECT c_custkey AS id, c_name AS name FROM customer
    ), r AS (
      SELECT id, name,
             ROW_NUMBER() OVER (ORDER BY lower(name), id) AS rid
      FROM c
    ), cand AS (
      SELECT a.id AS ia, a.name AS na, b.id AS ib, b.name AS nb
      FROM r a JOIN r b ON b.rid BETWEEN a.rid + 1 AND a.rid + 3
    )
    SELECT LEAST(ia, ib) AS id1, GREATEST(ia, ib) AS id2,
           CAST(levenshtein(na, nb) AS INT) AS dist
    FROM cand WHERE levenshtein(na, nb) <= 1
    """,
)
def snm_blocking_pairs_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood entity-resolution blocking (operators/
    dedup.snm_pairs; Hernández & Stolfo 1995): customers sorted by
    normalized name, each compared to the 3 records after it, pairs
    within edit distance 1 kept — the sort-based complement of
    fuzzy_name_pairs_customers' deletion-neighborhood hash blocking
    (same verify metric, different candidate generation paradigm; the
    windowed-recall contract is replayed exactly by the oracle).
    Scale: range-partitioned global numbering (windows.
    global_row_number — no single-task global window; tests assert
    that plan property) + a pure equi-join on exploded target rids
    (never a range join/BNLJ)."""
    from ..operators import dedup as D

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), F.col("c_name").alias("name")
    )
    return D.snm_pairs(cust, window=4, max_dist=1)


# sf > 0.01 evidence sweeps replace the quadratic NOT-EXISTS witness
# (510 s at sf0.1) with the O(n log n) sorted-prefix-max identity the
# operator's docstring proves — per-date max, exclusive running max
# in date order, frontier = strict record-setters joined back on the
# (date, price) point. Same rows bit-for-bit; pytest pins the two
# forms equal at sf0.001.
# nn_join_acctbal's driver-facing witness is the deliberately brute
# CROSS JOIN + window (quadratic — the strictness argument wants the
# obviously-correct form at gate sf). At sf1 that is 150k x 10k =
# 1.5e9 window rows and OOM-killed the r14 sf1 sweep, so the scaled
# twin is the O(n log n) sorted-tape form: per distinct supplier
# acctbal keep min(s_suppkey) (ties at the SAME value resolve there),
# find each customer's floor/ceiling supplier value with one
# IGNORE-NULLS running window per direction (every other value has
# strictly larger |diff|), then pick by (|diff|, suppkey) — the exact
# window tie rule. pytest pins brute == scaled at sf0.001 AND sf0.01.
SCALED_ORACLES["nn_join_acctbal"] = """
    WITH sv AS (
      SELECT s_acctbal AS val, MIN(s_suppkey) AS sk
      FROM supplier GROUP BY 1
    ), tape AS (
      SELECT val, sk, CAST(NULL AS BIGINT) AS ck FROM sv
      UNION ALL
      SELECT c_acctbal, NULL, c_custkey FROM customer
    ), fl AS (
      SELECT ck, val AS cval,
             LAST_VALUE(CASE WHEN sk IS NOT NULL THEN val END IGNORE NULLS)
               OVER (ORDER BY val, (sk IS NULL)
                     ROWS UNBOUNDED PRECEDING) AS fval,
             LAST_VALUE(sk IGNORE NULLS)
               OVER (ORDER BY val, (sk IS NULL)
                     ROWS UNBOUNDED PRECEDING) AS fsk
      FROM tape
    ), cl AS (
      SELECT ck, val AS cval,
             LAST_VALUE(CASE WHEN sk IS NOT NULL THEN val END IGNORE NULLS)
               OVER (ORDER BY val DESC, (sk IS NULL)
                     ROWS UNBOUNDED PRECEDING) AS cvl,
             LAST_VALUE(sk IGNORE NULLS)
               OVER (ORDER BY val DESC, (sk IS NULL)
                     ROWS UNBOUNDED PRECEDING) AS csk
      FROM tape
    ), cand AS (
      SELECT f.ck AS c_custkey, f.cval, f.fval, f.fsk, c.cvl, c.csk
      FROM fl f JOIN cl c ON f.ck = c.ck
      WHERE f.ck IS NOT NULL
    )
    SELECT c_custkey,
           CASE WHEN fval IS NOT NULL AND (cvl IS NULL
                     OR ABS(cval - fval) < ABS(cval - cvl)
                     OR (ABS(cval - fval) = ABS(cval - cvl)
                         AND fsk < csk))
                THEN fsk ELSE csk END AS nearest_suppkey,
           ROUND(CASE WHEN fval IS NOT NULL AND (cvl IS NULL
                     OR ABS(cval - fval) < ABS(cval - cvl)
                     OR (ABS(cval - fval) = ABS(cval - cvl)
                         AND fsk < csk))
                THEN ABS(cval - fval) ELSE ABS(cval - cvl) END, 4)
             AS acctbal_diff
    FROM cand
    """

SCALED_ORACLES["skyline_orders"] = """
    WITH g AS (
      SELECT o_orderdate AS d, MAX(o_totalprice) AS mp
      FROM orders GROUP BY 1
    ), f AS (
      SELECT d, mp, MAX(mp) OVER (
        ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
      ) AS prev FROM g
    )
    SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice
    FROM orders o JOIN f ON o.o_orderdate = f.d
                        AND o.o_totalprice = f.mp
    WHERE f.prev IS NULL OR f.mp > f.prev
    """




@register(
    "skyline_orders",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders a
    WHERE NOT EXISTS (
      SELECT 1 FROM orders b
      WHERE b.o_orderdate <= a.o_orderdate
        AND b.o_totalprice >= a.o_totalprice
        AND (b.o_orderdate < a.o_orderdate
             OR b.o_totalprice > a.o_totalprice)
    )
    """,
)
def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of orders — the Pareto frontier of (earliest
    order date, highest total price): no other order is both at
    least as early and at least as valuable with one strict
    (operators/windows.pareto_frontier_2d; Börzsönyi et al. 2001).
    The oracle IS the textbook quadratic NOT-EXISTS dominance
    self-join; the Spark plan is the sort-based LINEAR identity (one
    per-date max groupBy + a two-phase prefix max over the
    date-domain aggregate + a broadcast frontier join-back) —
    hash-matching brute force is the exactness proof, the
    allpairs-prefix doctrine applied to multi-criteria selection."""
    from ..operators.windows import pareto_frontier_2d

    orders = load(spark, sf_dir, "orders")
    return pareto_frontier_2d(
        orders, "o_orderdate", "o_totalprice"
    ).select("o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "calibration_lr_docs",
    f"""
    WITH {{_LR_FEAT_CTE}},{{_LR_ITERS}},
    scored AS (
      SELECT f.doc_id, f.y, {{_LR_P_EXPR}} AS p FROM feat f, it4 i
    )
    SELECT CAST(LEAST(CAST(FLOOR(p * 1000) AS BIGINT), 999) AS BIGINT)
             AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(y AS BIGINT)) AS BIGINT) AS n_positive,
           CAST(SUM(CAST(ROUND(p * 1000000, 0) AS BIGINT)) AS BIGINT)
             / COUNT(*) / 1000000.0 AS mean_p
    FROM scored GROUP BY 1
    """.replace("{_LR_FEAT_CTE}", _LR_FEAT_CTE)
    .replace("{_LR_ITERS}", _lr_iter_ctes(4))
    .replace("{_LR_P_EXPR}", _LR_P_EXPR),
)
def calibration_lr_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram calibration of the trained quality
    classifier: bucket the bit-exact hard-sigmoid scores into
    permille score bins (the gate model's scores span ~8 permille
    around 0.46, so decile bins would collapse to one row) and
    report, per bin, the document count, the positive
    (lang='en') count, and the integer-micro mean predicted score —
    the standard "is the model's 0.7 actually 70%?" evaluation run
    before using classifier scores as sampling weights
    (quality_weighted_sample_docs trusts exactly these
    probabilities). Completes the model-eval pair with
    centroid_classify_embeddings (confusion matrix for prototypes,
    calibration for the trained scorer). The DuckDB oracle replays
    the 4 GD iterations as unrolled CTEs and the same micro-exact
    binning/means. Scale: training is n_iter one-aggregate passes;
    the diagram is one 10-key map-side-combining groupBy."""
    from ..operators import corpus as C

    docs = load(spark, sf_dir, "documents")
    feats = C.classifier_features(docs).join(
        docs.select(
            F.col("doc_id").alias("id"),
            F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y"),
        ),
        "id",
    )
    feats = widen_narrow_source(feats).localCheckpoint(eager=False)
    model = C.train_linear_classifier(feats, n_iter=4)
    scored = feats.select(
        "y", C.linear_score(model["weights_micro"]).alias("p")
    )
    return scored.groupBy(
        F.least(
            F.floor(F.col("p") * 1000).cast("long"),
            F.lit(999).cast("long"),
        )
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("y").cast("long")).cast("long").alias("n_positive"),
        (
            F.sum(F.round(F.col("p") * 1_000_000, 0).cast("long"))
            / F.count(F.lit(1))
            / 1e6
        ).alias("mean_p"),
    )


_DSIR_GRAMS_SQL = f"""
    d AS (
      SELECT doc_id, lang, string_split({NORM_SQL}, ' ') AS toks
      FROM documents
    ),
    uni AS (SELECT doc_id, lang, unnest(toks) AS g FROM d),
    bi AS (
      SELECT doc_id, lang, array_to_string(toks[i:i+1], ' ') AS g
      FROM (SELECT doc_id, lang, toks, unnest(range(1, len(toks))) AS i
            FROM d WHERE len(toks) >= 2)
    ),
    grams AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
    bg AS (
      SELECT doc_id, lang,
             CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {_DSIR_B} AS b
      FROM grams
    )"""


@register(
    "streaming_dsir_weights_docs",
    f"""
    WITH {_DSIR_GRAMS_SQL},
    c1 AS (
      SELECT b, COUNT(*) AS r,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
      FROM bg WHERE doc_id % 2 = 0 GROUP BY b
    ),
    w1 AS (
      SELECT b, CAST(((t + 1) * 1000000) // (r + {_DSIR_B}) AS BIGINT) AS w
      FROM c1
    ),
    s1 AS (
      SELECT doc_id, CAST(SUM(w) // COUNT(*) AS BIGINT) AS w_avg
      FROM bg JOIN w1 USING (b) WHERE doc_id % 2 = 0 GROUP BY doc_id
    ),
    c2 AS (
      SELECT b, COUNT(*) AS r,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
      FROM bg GROUP BY b
    ),
    w2 AS (
      SELECT b, CAST(((t + 1) * 1000000) // (r + {_DSIR_B}) AS BIGINT) AS w
      FROM c2
    ),
    s2 AS (
      SELECT doc_id, CAST(SUM(w) // COUNT(*) AS BIGINT) AS w_avg
      FROM bg JOIN w2 USING (b) WHERE doc_id % 2 = 1 GROUP BY doc_id
    )
    SELECT doc_id, w_avg FROM s1
    UNION ALL SELECT doc_id, w_avg FROM s2
    """,
)
def streaming_dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dsir_select_docs' count table as a GROWING-corpus stream
    (streaming/foreach_batch.stream_incremental_dsir): two
    mtime-ordered micro-batches of documents (even doc_ids, then odd)
    fold their hashed-n-gram counts into a generation-keyed store;
    each batch's docs are scored against the counts THROUGH their own
    epoch — batch 1 against the even-docs distribution, batch 2
    against the full corpus — the incremental-statistics contract the
    unrolled per-batch oracle replays exactly (c1/w1/s1 for epoch 1,
    c2/w2/s2 for epoch 2). Returns every doc's arrival-epoch
    importance weight. The streaming analog of the incremental
    dedup / CC family with COUNTS as the persisted state."""
    import hashlib
    import os
    import shutil

    from ..streaming.foreach_batch import stream_incremental_dsir

    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"incrdsir-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_dsir_arrivals_{tag}")
    counts_root = os.path.join(base, f"spark_graft_dsir_counts_{tag}")
    scores_root = os.path.join(base, f"spark_graft_dsir_scores_{tag}")
    ckpt = os.path.join(base, f"spark_graft_dsir_ckpt_{tag}")

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").alias("_t")
    )
    seed = os.path.join(counts_root, "gen-0")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        # reseed => stale checkpoint would mark the arrival files
        # consumed and fold nothing (the incremental-CC hazard):
        # drop checkpoint AND any stale epoch outputs with the store
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(scores_root, ignore_errors=True)
        # counts_root too: a stale gen-N surviving an interrupted run
        # would be read back by the max(gen-*) pick as the latest
        # count store (same hazard as the CMS twin's sketch_root)
        shutil.rmtree(counts_root, ignore_errors=True)
        spark.createDataFrame(
            [], "b bigint, r bigint, t bigint"
        ).write.mode("overwrite").parquet(seed)
    _write_ordered_stream_fixture(stream_dir, (
        ("docs_00.parquet", docs.filter(F.col("doc_id") % 2 == 0),
         1_000_000_000),
        ("docs_01.parquet", docs.filter(F.col("doc_id") % 2 == 1),
         1_000_000_100),
    ))

    schema = spark.read.parquet(
        os.path.join(stream_dir, "docs_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_incremental_dsir(
        stream, counts_root, scores_root, ckpt,
        query_name="streaming_dsir_weights_docs",
        n_buckets=_DSIR_B,
    )
    from ..operators.similarity import _fs_glob

    epochs = [
        name for name in _fs_glob(scores_root, "epoch-*", spark)
        if name.split("-", 1)[1].isdigit()
    ]
    out = None
    for name in sorted(epochs, key=lambda n: int(n.split("-", 1)[1])):
        part = spark.read.parquet(f"{scores_root}/{name}")
        out = part if out is None else out.unionByName(part)
    return out.select("doc_id", "w_avg")


def _ppr_iter_sql(prev: str, idx: int) -> str:
    """One unrolled integer-micro PERSONALIZED PageRank iteration:
    same contributions as _pagerank_iter_sql, restart mass split
    equally over the seed set via the one-row scalar CTE."""
    return f"""
    qc{idx} AS (
      SELECT de.t AS node, SUM(r.r // dd.deg) AS cs
      FROM de JOIN {prev} r ON r.node = de.s JOIN d dd ON dd.s = de.s
      GROUP BY de.t
    ),
    qr{idx} AS (
      SELECT d.s AS node,
             CAST((CASE WHEN d.s IN (SELECT node FROM seeds)
                        THEN (3 * ns.nn * 1000000) // (20 * ns.ns)
                        ELSE 0 END)
                  + (17 * COALESCE(c.cs, 0)) // 20 AS BIGINT) AS r
      FROM d LEFT JOIN qc{idx} c ON c.node = d.s, nscalar ns
    )"""


@register(
    "personalized_pagerank_events",
    f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), de AS (
      SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
    ), d AS (
      SELECT s, COUNT(*) AS deg FROM de GROUP BY s
    ), seeds AS (
      SELECT DISTINCT s AS node FROM d WHERE s % 7 = 0
    ), nscalar AS (
      SELECT (SELECT COUNT(*) FROM d) AS nn,
             (SELECT COUNT(*) FROM seeds) AS ns
    ), qr0 AS (
      SELECT s AS node, CAST(1000000 AS BIGINT) AS r FROM d
    ),{_ppr_iter_sql('qr0', 1)},{_ppr_iter_sql('qr1', 2)},
    {_ppr_iter_sql('qr2', 3)}
    SELECT node AS user_id, r AS rank_micro FROM qr3
    """,
)
def personalized_pagerank_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank (operators/graphs.pagerank_micro with a
    seed set): the restart mass concentrates on users whose id is
    divisible by 7, ranking the rest of the purchase co-occurrence
    graph by damped-walk proximity to that cohort — the
    related-items/trust-propagation variant of pagerank_events
    (classic PPR: Page et al. 1999 §6 personalized vectors;
    Jeh & Widom 2003). Same exact-integer doctrine: BIGINT micros,
    integer-division contributions, 17/20 damping, and the seed
    share (3 * N * 1e6) DIV (20 * |seeds|) — the node/seed counts
    ride a broadcast one-row crossJoin so all 3 iterations still
    compose into ONE lazy plan with no driver sync. The DuckDB
    oracle unrolls the iterations with the same scalar CTE."""
    from ..operators.graphs import pagerank_micro

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600).alias("h"),
        )
        .distinct()
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(b, (F.col("a.h") == F.col("b.h"))
               & (F.col("a.user_id") < F.col("b.user_id")))
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    seeds = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .filter(F.col("node") % 7 == 0)
        .distinct()
    )
    return pagerank_micro(edges, n_iter=3, seeds=seeds).withColumnRenamed(
        "node", "user_id"
    )


@register(
    "frequent_part_pairs",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
    )
    SELECT a.i AS item1, c.i AS item2, COUNT(*) AS support
    FROM li a JOIN li c ON a.b = c.b AND a.i < c.i
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
    """,
)
def frequent_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket frequent-pair mining over order baskets
    (operators/mining.frequent_pairs; the 2-itemset core of Apriori,
    Agrawal & Srikant 1994): part pairs co-occurring in >= 3 distinct
    orders. The Spark plan prunes infrequent items BEFORE the pair
    fan (lossless apriori L1 semi-join) and the fan is bounded by
    basket size (TPC-H orders carry <= 7 parts), landing directly in
    a map-side-combining count; the oracle is the unpruned
    brute-force pair join — hash-matching it proves the pruning
    lossless."""
    from ..operators.mining import frequent_pairs

    li = load(spark, sf_dir, "lineitem")
    return frequent_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey", min_support=3
    )


from ..operators.mining import CMS_DEPTH as _CMS_D  # noqa: E402
from ..operators.mining import CMS_WIDTH as _CMS_W  # noqa: E402
from ..operators.mining import cms_col_duck_sql as _cms_duck  # noqa: E402

# Built from CMS_DEPTH/CMS_WIDTH so the oracle can never drift from
# the Spark-side sketch shape if the constants change.
_CMS_CELLS_SQL = " UNION ALL ".join(
    f"SELECT {j} AS j, {_cms_duck('token', j, _CMS_W)} AS c FROM toks"
    for j in range(_CMS_D)
)
_CMS_PROBE_JOINS = "".join(
    f"""
    JOIN counts e{j} ON e{j}.j = {j}
      AND e{j}.c = {_cms_duck('p.token', j, _CMS_W)}"""
    for j in range(_CMS_D)
)
_CMS_LEAST = "LEAST(" + ", ".join(f"e{j}.cnt" for j in range(_CMS_D)) + ")"


@register(
    "cms_token_counts_docs",
    f"""
    WITH toks AS (
      SELECT unnest(string_split({NORM_SQL}, ' ')) AS token
      FROM documents
    ),
    truec AS (SELECT token, COUNT(*) AS true_count FROM toks GROUP BY 1),
    probes AS (
      SELECT token, true_count FROM truec
      ORDER BY true_count DESC, token LIMIT 10
    ),
    cells AS ({_CMS_CELLS_SQL}),
    counts AS (SELECT j, c, COUNT(*) AS cnt FROM cells GROUP BY 1, 2)
    SELECT p.token, p.true_count,
           {_CMS_LEAST} AS cms_estimate
    FROM probes p{_CMS_PROBE_JOINS}
    """,
)
def cms_token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream (operators/
    mining.cms_build; Cormode & Muthukrishnan 2005): a 4 x 256
    integer counter matrix, probed for the 10 most frequent tokens
    and reported beside the true counts — the fixed-size mergeable
    frequency summary, like the HLL/approx_top_k family but with
    md5-salted DETERMINISTIC hash rows, so the whole sketch is
    STRICT-oracle-paired (the DuckDB twin replays every counter
    exactly; library sketches can only get tolerance bands). Scale:
    one explode to depth rows per token + one groupBy whose key
    cardinality is the 1024-cell matrix (partial aggregation
    collapses partitions to matrix size); probing is a broadcast
    map-side join."""
    from ..operators.mining import cms_build, cms_estimate

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(T.tokens("text")).alias("token")
    )
    truec = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("true_count")
    )
    probes = truec.orderBy(
        F.col("true_count").desc(), F.col("token")
    ).limit(10)
    sketch = cms_build(toks, "token", _CMS_D, _CMS_W)
    return cms_estimate(sketch, probes, "token", _CMS_D, _CMS_W).select(
        "token", "true_count", "cms_estimate"
    )


@register(
    "equi_depth_value_events",
    """
    WITH r AS (
      SELECT value,
             ROW_NUMBER() OVER (ORDER BY value, event_id) AS rid,
             COUNT(*) OVER () AS n
      FROM events
    )
    SELECT CAST(((rid - 1) * 10) // n AS BIGINT) AS bucket,
           COUNT(*) AS n_rows,
           MIN(value) AS lo, MAX(value) AS hi
    FROM r GROUP BY 1
    """,
)
def equi_depth_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram of event values — the
    optimizer-statistics / data-profiling primitive: 10 buckets of
    (near-)equal row count with their value boundaries. NOT the
    built-in ntile over an empty PARTITION BY (the single-task global
    window, the trap global_ids_docs documents): ranks come from
    operators/windows.global_row_number (range partition + local rank
    + broadcast offsets), the bucket is integer arithmetic over the
    rank and the one-row broadcast total, and the boundaries are one
    map-side-combining groupBy. Ties are broken by event_id so the
    rank — and therefore every bucket count and boundary — is
    bit-deterministic; the oracle replays the same explicit-tiebreak
    rank and bucket arithmetic."""
    from ..operators.windows import global_row_number

    ev = load(spark, sf_dir, "events").select("event_id", "value")
    r = global_row_number(ev, ["value", "event_id"], out_col="rid")
    tot = r.agg(F.count(F.lit(1)).alias("n"))
    return (
        r.crossJoin(F.broadcast(tot))
        .groupBy(
            F.expr("((rid - 1) * 10) DIV n").cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@register(
    "streaming_cms_tokens_docs",
    _ORACLES["cms_token_counts_docs"],
)
def streaming_cms_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cms_token_counts_docs' sketch maintained over a STREAMING
    corpus (streaming/foreach_batch.stream_cms): two mtime-ordered
    doc batches (even doc_ids, then odd) each merge their token
    sketch into a generation-keyed counter store by cell-wise sum.
    Mergeability — CMS(A ∪ B) = CMS(A) + CMS(B) counter by counter —
    makes the drained store BIT-IDENTICAL to the all-at-once sketch,
    so this twin shares the batch query's strict oracle VERBATIM
    (probe the drained sketch for the full corpus's top-10 tokens):
    the strongest possible streaming-equals-batch contract, stronger
    than the incremental-DSIR family's per-epoch semantics."""
    import hashlib
    import os
    import shutil

    from ..operators.mining import CMS_DEPTH, CMS_WIDTH, cms_estimate
    from ..streaming.foreach_batch import stream_cms

    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"cms-stream-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_cms_arrivals_{tag}")
    sketch_root = os.path.join(base, f"spark_graft_cms_store_{tag}")
    ckpt = os.path.join(base, f"spark_graft_cms_ckpt_{tag}")

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    seed = os.path.join(sketch_root, "gen-0")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        # Reseed clears the WHOLE store, not just the checkpoint: a
        # partially-deleted store (gen-0 gone, stale gen-N left by an
        # interrupted run) would otherwise be read back as the latest
        # sketch by the max(gen-*) pick below.
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(sketch_root, ignore_errors=True)
        spark.createDataFrame(
            [], "j int, c bigint, cnt bigint"
        ).write.mode("overwrite").parquet(seed)
    _write_ordered_stream_fixture(stream_dir, (
        ("docs_00.parquet", docs.filter(F.col("doc_id") % 2 == 0),
         1_000_000_000),
        ("docs_01.parquet", docs.filter(F.col("doc_id") % 2 == 1),
         1_000_000_100),
    ))
    schema = spark.read.parquet(
        os.path.join(stream_dir, "docs_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_cms(
        stream, sketch_root, ckpt,
        query_name="streaming_cms_tokens_docs",
        depth=CMS_DEPTH, width=CMS_WIDTH,
    )
    from ..operators.similarity import _fs_glob

    latest = max(
        int(name.split("-", 1)[1])
        for name in _fs_glob(sketch_root, "gen-*", spark)
        if name.split("-", 1)[1].isdigit()
    )
    sketch = spark.read.parquet(f"{sketch_root}/gen-{latest}")
    toks = docs.select(F.explode(T.tokens("text")).alias("token"))
    probes = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("token"))
        .limit(10)
    )
    return cms_estimate(
        sketch, probes, "token", CMS_DEPTH, CMS_WIDTH
    ).select("token", "true_count", "cms_estimate")


@register("streaming_hll_users_events", _hll_union_oracle())
def streaming_hll_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hll_union_users_events' register sketch maintained over a
    STREAMING event log (streaming/foreach_batch.stream_hll): two
    mtime-ordered event batches (even user_ids, then odd) each merge
    their per-(day, event_type) register frame into a
    generation-keyed store by elementwise register MAX. HLL
    mergeability — union = register max — makes the drained daily
    layer BIT-IDENTICAL to the one-pass build, so this twin shares
    the batch query's strict oracle VERBATIM (the stream_cms
    contract applied to distinct counting): the rollup + harmonic /
    linear-counting estimate over the drained store must hash-match
    DuckDB's replay over the whole events table. Reseed clears the
    whole store + checkpoint (the r12 ADVICE protocol)."""
    import hashlib
    import os
    import shutil

    from ..operators.mining import hll_estimate
    from ..streaming.foreach_batch import stream_hll

    src = os.path.realpath(f"{sf_dir}/events.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"hll-stream-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_hll_arrivals_{tag}")
    store_root = os.path.join(base, f"spark_graft_hll_store_{tag}")
    ckpt = os.path.join(base, f"spark_graft_hll_ckpt_{tag}")

    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.to_date("ts").alias("d"), "event_type", "user_id"
        )
    )
    seed = os.path.join(store_root, "gen-0")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(store_root, ignore_errors=True)
        spark.createDataFrame(
            [], "d date, event_type string, j int, rho int"
        ).write.mode("overwrite").parquet(seed)
    _write_ordered_stream_fixture(stream_dir, (
        ("events_00.parquet", ev.filter(F.col("user_id") % 2 == 0),
         1_000_000_000),
        ("events_01.parquet", ev.filter(F.col("user_id") % 2 == 1),
         1_000_000_100),
    ))
    schema = spark.read.parquet(
        os.path.join(stream_dir, "events_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_hll(
        stream, store_root, ckpt,
        group_cols=["d", "event_type"], item_col="user_id",
        query_name="streaming_hll_users_events",
    )
    from ..operators.similarity import _fs_glob

    latest = max(
        int(name.split("-", 1)[1])
        for name in _fs_glob(store_root, "gen-*", spark)
        if name.split("-", 1)[1].isdigit()
    )
    daily = spark.read.parquet(f"{store_root}/gen-{latest}")
    reg = daily.groupBy("event_type", "j").agg(F.max("rho").alias("rho"))
    nd = daily.groupBy("event_type").agg(
        F.countDistinct("d").alias("n_days")
    )
    est = hll_estimate(reg, ["event_type"])
    return (
        est.join(nd, "event_type")
        .select("event_type", "approx_users", "n_days")
        .orderBy("event_type")
    )


def _bfs_round_sql(prev: str, r: int) -> str:
    return f"""
    c{r} AS (
      SELECT de.t AS node, p.hop + 1 AS hop
      FROM de JOIN {prev} p ON de.s = p.node
      UNION ALL SELECT node, hop FROM {prev}
    ), d{r} AS (
      SELECT node, MIN(hop) AS hop FROM c{r} GROUP BY 1
    )"""


@register(
    "bfs_hops_users_events",
    f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'click'
    ), e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), de AS (
      SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
    ), nodes AS (
      SELECT DISTINCT s FROM de
    ), d0 AS (
      SELECT s AS node, 0 AS hop FROM nodes WHERE s % 11 = 0
    ),{_bfs_round_sql('d0', 1)},{_bfs_round_sql('d1', 2)},
    {_bfs_round_sql('d2', 3)}
    SELECT node AS user_id, CAST(hop AS INT) AS hop FROM d3
    """,
)
def bfs_hops_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the click co-occurrence graph
    (operators/graphs.bfs_hops): hop distance from the user_id % 11
    seed cohort, capped at 3 hops — the "within k hops of a flagged
    account" reachability filter, seventh member of the graph family
    (CC / triangles / PageRank / PPR / k-core / k-truss / BFS). One
    unrolled declarative plan: per round an edge-sized SMJ against
    the once-sorted checkpointed edge table + a min(hop) fold, pure
    integers; the DuckDB oracle unrolls the same three rounds."""
    from ..operators.graphs import bfs_hops

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    edges = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .distinct()
    )
    seeds = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .filter(F.col("node") % 11 == 0)
        .distinct()
    )
    return bfs_hops(edges, seeds, n_rounds=3).withColumnRenamed(
        "node", "user_id"
    )


@register(
    "streaming_incremental_bfs_users_events",
    """
    WITH RECURSIVE cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'click'
    ), e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), de AS (
      SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
    ), walk(node, hop) AS (
      SELECT DISTINCT s, 0 FROM de WHERE s % 11 = 0
      UNION
      SELECT de.t, w.hop + 1 FROM walk w JOIN de ON de.s = w.node
      WHERE w.hop < 64
    )
    SELECT node AS user_id, CAST(MIN(hop) AS INT) AS hop
    FROM walk GROUP BY node
    """,
)
def streaming_incremental_bfs_users_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental multi-source BFS over a GROWING edge log
    (streaming/foreach_batch.stream_incremental_bfs) — the streaming
    twin of bfs_hops_users_events' click co-occurrence graph,
    completing the batch/streaming symmetry for the graph-traversal
    tier (the incremental-CC pattern applied to min-plus distances):
    the co-occurrence edges arrive as two mtime-ordered micro-batches
    (split by (u+v) parity), each batch folds into a batch-keyed edge
    store and advances a generation-keyed distance store by
    FRONTIER-BASED relaxation until fixpoint. Insert-only edges keep
    prior distances valid upper bounds, so the drained store equals
    from-scratch fixpoint BFS over the union — which the oracle
    replays as an uncapped recursive CTE (hop cap 64 >> diameter;
    the engine loop raises beyond it, so a cap breach can never
    silently truncate). Unlike the 3-hop-capped batch query this twin
    runs to the true fixpoint; per-batch work is frontier-bounded
    (a quiet batch does one seed-fold and stops)."""
    import hashlib
    import os
    import shutil

    from ..operators.similarity import _fs_glob
    from ..streaming.foreach_batch import stream_incremental_bfs

    src = os.path.realpath(f"{sf_dir}/events.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"ibfs-stream-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_ibfs_arrivals_{tag}")
    edges_root = os.path.join(base, f"spark_graft_ibfs_edges_{tag}")
    store_root = os.path.join(base, f"spark_graft_ibfs_store_{tag}")
    ckpt = os.path.join(base, f"spark_graft_ibfs_ckpt_{tag}")

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600).cast("long").alias("h"),
        )
        .distinct()
    )
    edges = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .distinct()
    )
    seed = os.path.join(store_root, "gen-0")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(store_root, ignore_errors=True)
        shutil.rmtree(edges_root, ignore_errors=True)
        spark.createDataFrame([], "node bigint, hop int").write.mode(
            "overwrite"
        ).parquet(seed)
    _write_ordered_stream_fixture(stream_dir, (
        ("edges_00.parquet", edges.filter((F.col("u") + F.col("v")) % 2 == 0),
         1_000_000_000),
        ("edges_01.parquet", edges.filter((F.col("u") + F.col("v")) % 2 == 1),
         1_000_000_100),
    ))
    schema = spark.read.parquet(
        os.path.join(stream_dir, "edges_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_incremental_bfs(
        stream, edges_root, store_root, ckpt,
        seed_sql="node % 11 = 0",
        query_name="streaming_incremental_bfs_users_events",
    )
    latest = max(
        int(name.split("-", 1)[1])
        for name in _fs_glob(store_root, "gen-*", spark)
        if name.split("-", 1)[1].isdigit()
    )
    drained = spark.read.parquet(f"{store_root}/gen-{latest}")
    return drained.select(
        F.col("node").alias("user_id"), F.col("hop").cast("int").alias("hop")
    )


def _lpa_round_sql(prev: str, r: int) -> str:
    return f"""
    l{r} AS (
      SELECT node, label FROM (
        SELECT de.s AS node, p.label,
               ROW_NUMBER() OVER (
                 PARTITION BY de.s
                 ORDER BY COUNT(*) DESC, p.label ASC) AS rn
        FROM de JOIN {prev} p ON de.t = p.node
        GROUP BY de.s, p.label
      ) WHERE rn = 1
    )"""


@register(
    "label_propagation_users_events",
    f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'view'
    ), e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), de AS (
      SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
    ), l0 AS (
      SELECT DISTINCT t AS node, t AS label FROM de
    ),{_lpa_round_sql('l0', 1)},{_lpa_round_sql('l1', 2)},
    {_lpa_round_sql('l2', 3)}
    SELECT node AS user_id, label FROM l3
    """,
)
def label_propagation_users_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic synchronous label propagation
    (operators/graphs.label_propagation; Raghavan et al. 2007) over
    the view co-occurrence graph, 3 rounds — the eighth graph
    operator: cheap community structure, distinct from CC's
    reachability fixpoint. Ties break on the smallest label, so the
    DuckDB oracle's windowed argmax unrolls the same three rounds to
    the same labels; the Spark side folds the argmax into a
    max(struct) aggregate instead of a window (map-side combine,
    no per-round sort)."""
    from ..operators.graphs import label_propagation

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    edges = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .distinct()
    )
    return label_propagation(edges, n_rounds=3).withColumnRenamed(
        "node", "user_id"
    )


def _sssp_round_sql(prev: str, r: int) -> str:
    return f"""
    x{r} AS (
      SELECT de.t AS node, p.dist + de.w AS dist
      FROM de JOIN {prev} p ON de.s = p.node
      UNION ALL SELECT node, dist FROM {prev}
    ), s{r} AS (
      SELECT node, MIN(dist) AS dist FROM x{r} GROUP BY 1
    )"""


@register(
    "sssp_weighted_users_events",
    f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT a.user_id AS u, b.user_id AS v,
             GREATEST(1, 6 - COUNT(*)) AS w
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
      GROUP BY 1, 2
    ), de AS (
      SELECT u AS s, v AS t, w FROM e UNION ALL SELECT v, u, w FROM e
    ), nodes AS (
      SELECT DISTINCT s FROM de
    ), s0 AS (
      SELECT s AS node, CAST(0 AS BIGINT) AS dist
      FROM nodes WHERE s % 13 = 0
    ),{_sssp_round_sql('s0', 1)},{_sssp_round_sql('s1', 2)},
    {_sssp_round_sql('s2', 3)}
    SELECT node AS user_id, CAST(dist AS BIGINT) AS dist FROM s3
    """,
)
def sssp_weighted_users_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bounded-round weighted shortest path
    (operators/graphs.sssp_minplus; Bellman-Ford min-plus) over the
    purchase co-occurrence graph — the ninth graph operator and the
    weighted upgrade of bfs_hops (the r12 verdict's ask #5). Edge
    weight = GREATEST(1, 6 - shared_cells): frequently co-purchasing
    pairs are "closer", so 3 relaxation rounds score proximity to
    the user_id % 13 seed cohort in exact BIGINT path cost. Per
    round one edge-sized SMJ against the once-sorted checkpointed
    edge table + a min fold, with the distance frame cut eagerly
    (it feeds the round twice — the BFS plan-doubling lesson); the
    DuckDB oracle unrolls the identical three rounds."""
    from ..operators.graphs import sssp_minplus

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    edges = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("u"),
            F.col("b.user_id").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "u",
            "v",
            F.greatest(F.lit(1), F.lit(6) - F.col("cnt"))
            .cast("long")
            .alias("w"),
        )
    )
    seeds = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .filter(F.col("node") % 13 == 0)
        .distinct()
    )
    return sssp_minplus(edges, seeds, n_rounds=3).withColumnRenamed(
        "node", "user_id"
    )


from ..functions.layout import hilbert_cte_sql as _hil_sql  # noqa: E402


@register(
    "hilbert_layout_events",
    f"""
    WITH ev AS (
      SELECT {_Z_X} AS x, {_Z_Y_DUCK} AS y FROM events
    ), {_hil_sql('ev', 'x', 'y', keep='x, y', bits=_Z_BITS)}
    SELECT CAST(hkey >> 12 AS BIGINT) AS h_bucket,
           COUNT(*) AS n_events,
           CAST(MIN(x) AS BIGINT) AS min_user_cell,
           CAST(MAX(x) AS BIGINT) AS max_user_cell,
           CAST(MIN(y) AS BIGINT) AS min_hour_cell,
           CAST(MAX(y) AS BIGINT) AS max_hour_cell
    FROM hilb GROUP BY 1
    """,
)
def hilbert_layout_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve clustering key over the same (user bucket, hour
    bucket) cells as zorder_layout_events
    (functions/layout.hilbert_cols): the locality upgrade of the
    Morton key — top-2k key bits still name a level-k SQUARE (the
    same bounded-rectangle pruning contract, tests pin <= 64 cells
    per dimension per bucket), and additionally CONSECUTIVE buckets
    are spatially adjacent, so a range scan over the sorted layout
    touches one contiguous region instead of Morton's quadrant
    jumps. The xy2d rotation chain can't be one expression (each
    level consumes the previous level's state), so it unrolls as a
    10-level select chain on Spark and the byte-identical CTE chain
    in the oracle — still pure integer CASE arithmetic, zero UDFs,
    STRICT-oracle-paired. Scale: map-side key computation + one
    groupBy, exactly the zorder shape."""
    from ..functions.layout import hilbert_cols

    ev = load(spark, sf_dir, "events").select(
        F.expr(_Z_X).alias("x"), F.expr(_Z_Y_SPARK).alias("y")
    )
    h = hilbert_cols(ev, "x", "y", _Z_BITS, out="hkey")
    return h.groupBy(
        F.expr("hkey >> 12").cast("long").alias("h_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("x").cast("long").alias("min_user_cell"),
        F.max("x").cast("long").alias("max_user_cell"),
        F.min("y").cast("long").alias("min_hour_cell"),
        F.max("y").cast("long").alias("max_hour_cell"),
    )


def _hll_intersect_oracle() -> str:
    from ..operators.mining import hll_estimate_duck_sql, hll_rho_sql

    j_sql, rho_sql = hll_rho_sql("user_id", duck=True)
    est = hll_estimate_duck_sql("reg", ["cohort"])
    return f"""
    WITH h AS (
      SELECT event_type AS cohort, {j_sql} AS j, {rho_sql} AS rho
      FROM events
      WHERE user_id IS NOT NULL AND event_type IN ('click', 'view')
    ), per AS (
      SELECT cohort, j, MAX(rho) AS rho FROM h GROUP BY 1, 2
    ), reg AS (
      SELECT cohort, j, rho FROM per
      UNION ALL
      SELECT 'both' AS cohort, j, MAX(rho) AS rho FROM per GROUP BY 2
    ), est AS ({est}),
    tru AS (
      SELECT COUNT(*) AS true_intersect FROM (
        SELECT user_id FROM events
        WHERE user_id IS NOT NULL AND event_type IN ('click', 'view')
        GROUP BY 1 HAVING COUNT(DISTINCT event_type) = 2
      )
    )
    SELECT
      MAX(CASE WHEN cohort = 'click' THEN approx_users END) AS est_click,
      MAX(CASE WHEN cohort = 'view' THEN approx_users END) AS est_view,
      MAX(CASE WHEN cohort = 'both' THEN approx_users END) AS est_union,
      MAX(CASE WHEN cohort = 'click' THEN approx_users END)
        + MAX(CASE WHEN cohort = 'view' THEN approx_users END)
        - MAX(CASE WHEN cohort = 'both' THEN approx_users END)
        AS est_intersect,
      MAX(true_intersect) AS true_intersect
    FROM est, tru
    """


@register("hll_intersect_users_events", _hll_intersect_oracle())
def hll_intersect_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch set algebra: the distinct-user OVERLAP of the click and
    view cohorts by inclusion-exclusion over portable HLL registers —
    |A ∩ B| ~ E(A) + E(B) - E(A ∪ B), where the union sketch is the
    elementwise register MAX of the two cohort sketches (never a
    rescan of the raw keys: the pre-aggregated-cube pattern extended
    from rollups to set OVERLAP, the standard audience-overlap /
    cross-contamination estimator). Every term is the strict
    md5-register estimate, so unlike library sketch intersections
    the whole computation hash-matches the DuckDB replay; the exact
    intersection runs beside it for visible error (estimates are
    m=64 coarse — the point here is deterministic sketch ALGEBRA).
    Scale: one register build (map-side combine to 2 x 64 rows),
    union = a 64-row aggregate, estimates fixed-size."""
    from ..operators.mining import hll_estimate, hll_registers

    ev = (
        load(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("event_type").isin("click", "view")
        )
        .select(F.col("event_type").alias("cohort"), "user_id")
    )
    per = hll_registers(ev, ["cohort"], "user_id")
    both = per.groupBy("j").agg(F.max("rho").alias("rho")).select(
        F.lit("both").alias("cohort"), "j", "rho"
    )
    est = hll_estimate(per.unionByName(both), ["cohort"])
    tru = (
        ev.groupBy("user_id")
        .agg(F.countDistinct("cohort").alias("nt"))
        .filter(F.col("nt") == 2)
        .agg(F.count(F.lit(1)).alias("true_intersect"))
    )
    wide = est.groupBy().agg(
        F.max(F.when(F.col("cohort") == "click", F.col("approx_users")))
        .alias("est_click"),
        F.max(F.when(F.col("cohort") == "view", F.col("approx_users")))
        .alias("est_view"),
        F.max(F.when(F.col("cohort") == "both", F.col("approx_users")))
        .alias("est_union"),
    )
    return wide.crossJoin(F.broadcast(tru)).select(
        "est_click",
        "est_view",
        "est_union",
        (
            F.col("est_click") + F.col("est_view") - F.col("est_union")
        ).alias("est_intersect"),
        "true_intersect",
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter record-linkage scoring (blocking -> pairwise decision)
# ---------------------------------------------------------------------------

import math as _math  # noqa: E402

# Integer "deciban" weights round(10*log10(.)) from literal m/u
# parameters — the classic binit-weight practice (Newcombe 1959;
# Fellegi & Sunter 1969): log-odds enter as PRECOMPUTED integer
# literals, so the pairwise score is an exact BIGINT sum on every
# engine (no engine log in the data path).
def _fs_w(m: float, u: float) -> tuple[int, int]:
    return (
        round(10 * _math.log10(m / u)),
        round(10 * _math.log10((1 - m) / (1 - u))),
    )


# field -> (m, u): m = P(agree | match), u = P(agree | non-match)
_FS_FIELDS = {
    "name": _fs_w(0.9, 0.001),     # levenshtein <= 1
    "nation": _fs_w(0.95, 0.04),   # equality over 25 nations
    "segment": _fs_w(0.9, 0.2),    # equality over 5 segments
    "acctbal": _fs_w(0.8, 0.002),  # balances within 10.00
}
_FS_MATCH_T = 40  # total deciban threshold for "match"


def _fs_weight_sql(agree_sql: str, field: str) -> str:
    wa, wd = _FS_FIELDS[field]
    return f"(CASE WHEN {agree_sql} THEN {wa} ELSE {wd} END)"


_FS_AGREE = {
    "name": "levenshtein(na, nb) <= 1",
    "nation": "xa = xb",
    "segment": "sa = sb",
    "acctbal": "abs(ca - cb) <= 1000",
}
_FS_SCORE_SQL = " + ".join(
    _fs_weight_sql(_FS_AGREE[f], f) for f in _FS_FIELDS
)
_FS_NAGREE_SQL = " + ".join(
    f"(CASE WHEN {_FS_AGREE[f]} THEN 1 ELSE 0 END)" for f in _FS_FIELDS
)


@register(
    "fs_linkage_scores_customers",
    f"""
    WITH c AS (
      SELECT c_custkey AS id, c_name AS name, c_nationkey AS x,
             c_mktsegment AS s,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
      FROM customer
    ), r AS (
      SELECT id, name, x, s, cents,
             ROW_NUMBER() OVER (ORDER BY lower(name), id) AS rid
      FROM c
    ), cand AS (
      SELECT a.id AS ia, a.name AS na, a.x AS xa, a.s AS sa,
             a.cents AS ca,
             b.id AS ib, b.name AS nb, b.x AS xb, b.s AS sb,
             b.cents AS cb
      FROM r a JOIN r b ON b.rid BETWEEN a.rid + 1 AND a.rid + 3
    ), scored AS (
      SELECT LEAST(ia, ib) AS id1, GREATEST(ia, ib) AS id2,
             CAST({_FS_SCORE_SQL} AS BIGINT) AS w_deciban,
             CAST({_FS_NAGREE_SQL} AS INT) AS n_agree
      FROM cand
    )
    SELECT id1, id2, w_deciban, n_agree,
           CASE WHEN w_deciban >= {_FS_MATCH_T} THEN 'match'
                ELSE 'possible' END AS decision
    FROM scored WHERE w_deciban >= 0
    """,
)
def fs_linkage_scores_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage over the
    sorted-neighborhood candidates (Fellegi & Sunter 1969; integer
    deciban weights after Newcombe 1959): each window-adjacent
    customer pair is scored field by field — name edit distance,
    nation / segment equality, balances within 10.00 — with
    agreement/disagreement log-odds entering as
    PRECOMPUTED integer literals from the m/u parameters, so the
    pairwise score is an exact BIGINT sum that hash-matches the
    DuckDB replay (no engine log in the data path). Pairs at
    w >= 0 deciban survive; w >= 40 classifies 'match'. Completes
    the ER story: snm_blocking generates candidates, this scores and
    decides them. Scale: the same range-partitioned global order +
    exploded-rid equi-join as SNM (linear in rows x window); scoring
    is pure map-side CASE arithmetic; thresholds drop the output to
    the decision set."""
    from ..operators.windows import global_row_number

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("x"),
        F.col("c_mktsegment").alias("s"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    ).withColumn("key", F.lower(F.col("name")))
    r = global_row_number(cust, ["key", "id"], out_col="rid").drop("key")
    left = r.select(
        F.col("id").alias("ia"), F.col("name").alias("na"),
        F.col("x").alias("xa"), F.col("s").alias("sa"),
        F.col("cents").alias("ca"),
        F.explode(F.array(*[F.col("rid") + k for k in range(1, 4)]))
        .alias("rid"),
    )
    right = r.select(
        "rid",
        F.col("id").alias("ib"), F.col("name").alias("nb"),
        F.col("x").alias("xb"), F.col("s").alias("sb"),
        F.col("cents").alias("cb"),
    )
    cand = left.join(right, "rid")
    scored = cand.select(
        F.least("ia", "ib").alias("id1"),
        F.greatest("ia", "ib").alias("id2"),
        F.expr(_FS_SCORE_SQL).cast("long").alias("w_deciban"),
        F.expr(_FS_NAGREE_SQL).cast("int").alias("n_agree"),
    )
    return scored.filter(F.col("w_deciban") >= 0).select(
        "id1",
        "id2",
        "w_deciban",
        "n_agree",
        F.when(F.col("w_deciban") >= _FS_MATCH_T, F.lit("match"))
        .otherwise(F.lit("possible"))
        .alias("decision"),
    )


@register(
    "fs_entity_consolidation_customers",
    f"""
    WITH RECURSIVE c AS (
      SELECT c_custkey AS id, c_name AS name, c_nationkey AS x,
             c_mktsegment AS s,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS cents
      FROM customer
    ), r AS (
      SELECT id, name, x, s, cents,
             ROW_NUMBER() OVER (ORDER BY lower(name), id) AS rid
      FROM c
    ), cand AS (
      SELECT a.id AS ia, a.name AS na, a.x AS xa, a.s AS sa,
             a.cents AS ca,
             b.id AS ib, b.name AS nb, b.x AS xb, b.s AS sb,
             b.cents AS cb
      FROM r a JOIN r b ON b.rid BETWEEN a.rid + 1 AND a.rid + 3
    ), m AS (
      SELECT LEAST(ia, ib) AS id1, GREATEST(ia, ib) AS id2
      FROM cand WHERE CAST({{_FS_SCORE_SQL}} AS BIGINT) >= {{_FS_MATCH_T}}
    ), edges AS (
      SELECT id1 AS src, id2 AS dst FROM m
      UNION SELECT id2, id1 FROM m
    ), reach(id, root) AS (
      SELECT id, id FROM c
      UNION
      SELECT e.dst, r2.root FROM reach r2 JOIN edges e ON e.src = r2.id
    ), lab AS (
      SELECT id, MIN(root) AS entity_id FROM reach GROUP BY 1
    ), mem AS (
      SELECT lab.entity_id, lab.id, c2.cents,
             ROW_NUMBER() OVER (
               PARTITION BY lab.entity_id
               ORDER BY c2.cents DESC, lab.id ASC) AS rk
      FROM lab JOIN c c2 ON c2.id = lab.id
    )
    SELECT entity_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rk = 1 THEN id END) AS BIGINT)
             AS canonical_id,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM mem GROUP BY 1 HAVING COUNT(*) >= 2
    ORDER BY entity_id
    """.replace("{_FS_SCORE_SQL}", _FS_SCORE_SQL).replace(
        "{_FS_MATCH_T}", str(_FS_MATCH_T)
    ),
)
def fs_entity_consolidation_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The entity-resolution finale: Fellegi-Sunter 'match'
    decisions become ENTITIES by connected components over the match
    graph (min-label propagation — transitive closure of pairwise
    decisions, the merge/purge merge step), and each multi-member
    entity elects its canonical record by survivorship (highest
    balance, ties to the smallest id) with a consolidated balance.
    Completes the chain: snm blocking -> fs scoring -> decision ->
    consolidation, every stage strict-oracle-paired (the oracle
    closes the match graph with a recursive CTE, the dedup_clusters
    convention). Scale: the match graph is decision-sized (orders
    below the corpus), so the CC loop's working set is tiny;
    membership join-back and survivorship are one aggregate."""
    from ..operators.dedup import connected_components

    matches = (
        fs_linkage_scores_customers(spark, sf_dir)
        .filter(F.col("decision") == "match")
        .select("id1", "id2")
    )
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("cents"),
    )
    lab = connected_components(
        matches, cust.select("id"), id_col="id"
    ).withColumnRenamed("cluster_id", "entity_id")
    mem = lab.join(cust, "id")
    ent = mem.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        # survivorship argmax (cents DESC, id ASC) with the sign trick
        # on cents, not the id, so negative ids would still tie-break
        # to the smallest id like the oracle's ROW_NUMBER ordering
        F.min(F.struct((-F.col("cents")).alias("nc"), F.col("id")))
        .alias("__best"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
    return (
        ent.filter(F.col("n_members") >= 2)
        .select(
            "entity_id",
            "n_members",
            F.col("__best.id").cast("long").alias("canonical_id"),
            "total_cents",
        )
        .orderBy("entity_id")
    )


@register(
    "pmi_collocations_docs",
    f"""
    WITH tok AS (
      SELECT doc_id, pos, token FROM (
        SELECT doc_id,
               unnest(string_split({NORM_SQL}, ' ')) AS token,
               unnest(range(len(string_split({NORM_SQL}, ' ')))) AS pos
        FROM documents
      )
    ), big AS (
      SELECT doc_id, token AS prev,
             LEAD(token) OVER (PARTITION BY doc_id ORDER BY pos) AS cur
      FROM tok
    ), bmodel AS (
      SELECT prev, cur, COUNT(*) AS bc FROM big
      WHERE cur IS NOT NULL GROUP BY prev, cur
    ), lm AS (
      SELECT prev, SUM(bc) AS cx FROM bmodel GROUP BY prev
    ), rm AS (
      SELECT cur, SUM(bc) AS cy FROM bmodel GROUP BY cur
    ), tot AS (
      SELECT SUM(bc) AS n FROM bmodel
    ), scored AS (
      SELECT b.prev, b.cur, b.bc,
             (1000000 * n * bc) // (cx * cy) AS pmi_micro
      FROM bmodel b JOIN lm USING (prev) JOIN rm USING (cur), tot
      WHERE b.bc >= 3
    )
    SELECT prev, cur, CAST(bc AS BIGINT) AS n_pairs,
           CAST(pmi_micro AS BIGINT) AS pmi_micro,
           CAST(ROW_NUMBER() OVER (
             ORDER BY pmi_micro DESC, prev, cur) AS INT) AS rn
    FROM scored
    ORDER BY pmi_micro DESC, prev, cur LIMIT 20
    """,
)
def pmi_collocations_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by pointwise mutual information (Church &
    Hanks 1990; operators/corpus.pmi_collocations) over the corpus
    bigram model, support >= 3 — the r12 verdict's ask #6. PMI's log
    is monotone in N*c(xy)/(c(x.)*c(.y)), so candidates rank by that
    rational as ONE exact integer floor-division per candidate
    (DECIMAL(38,0) on Spark vs HUGEINT in DuckDB — no engine
    transcendental in the data path, the fs_linkage deciban trick).
    One tokenize+lead pass builds the model; margins re-aggregate the
    MODEL, not the token stream; the support filter runs before the
    margin joins; top-k is a TakeOrdered."""
    docs = load(spark, sf_dir, "documents")
    return C.pmi_collocations(docs, k=20, min_count=3)


from ..operators.corpus import es_key_sql as _es_sql  # noqa: E402


@register(
    "weighted_sample_wor_docs",
    f"""
    WITH wdoc AS (
      SELECT doc_id, LEAST(8, 1 + length(text) // 80) AS w
      FROM documents
    ), keyed AS (
      SELECT doc_id, w, {_es_sql('doc_id', 'w', 'es', duck=True)} AS es_key
      FROM wdoc
    )
    SELECT doc_id, CAST(w AS BIGINT) AS w, es_key,
           CAST(ROW_NUMBER() OVER (
             ORDER BY es_key DESC, doc_id) AS INT) AS rn
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT 50
    """,
)
def weighted_sample_wor_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic Efraimidis-Spirakis weighted sampling without
    replacement (operators/corpus.weighted_sample_wor; the r12
    verdict's ask #7): 50 docs drawn with inclusion competing
    proportionally to a length-derived integer weight in [1, 8].
    The E-S key u^(1/w) is realized EXACTLY as the max of w md5
    coins (max-of-w-uniforms identity — no pow/ln in the data
    path), so the sample is integer-exact cross-engine and the
    oracle replays the identical key ladder. Completes the sampling
    family: stratified (rate), exact-K, temperature, classifier-
    weighted Bernoulli — and now weighted WITHOUT replacement. Key
    cost is O(w) map-side coins per row; top-k is a TakeOrdered."""
    from ..operators.corpus import weighted_sample_wor

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("least(8, 1 + length(text) div 80)")
        .cast("long")
        .alias("w"),
    )
    return weighted_sample_wor(docs, k=50, weight_col="w")


@register(
    "streaming_weighted_sample_wor_docs",
    f"""
    WITH wdoc AS (
      SELECT doc_id, LEAST(8, 1 + length(text) // 80) AS w
      FROM documents
    ), keyed AS (
      SELECT doc_id, w, {_es_sql('doc_id', 'w', 'es', duck=True)} AS es_key
      FROM wdoc
    )
    SELECT doc_id, CAST(w AS BIGINT) AS w, es_key,
           CAST(ROW_NUMBER() OVER (
             ORDER BY es_key DESC, doc_id) AS INT) AS rn
    FROM keyed ORDER BY es_key DESC, doc_id LIMIT 50
    """,
)
def streaming_weighted_sample_wor_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """weighted_sample_wor_docs' reservoir maintained over a
    STREAMING corpus (streaming/foreach_batch.stream_weighted_sample):
    two mtime-ordered doc batches (even doc_ids, then odd) fold
    their E-S keys into a running top-50 candidate store. Disjoint
    batches make the top-k union-mergeable (a row outside its own
    batch's top-k is beaten by k rows that also ride the store) and
    the keys are pure functions of (salt, id, w), so the drained
    store IS the one-pass sample and this twin shares the batch
    query's strict oracle VERBATIM — the fifth member of the
    CMS/HLL/BM25/DSIR mergeable-ingestion family, now covering
    sampling. Reseed clears the whole store + checkpoint (the r12
    ADVICE protocol)."""
    import hashlib
    import os
    import shutil

    from ..operators.similarity import _fs_glob
    from ..streaming.foreach_batch import stream_weighted_sample

    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"es-stream-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_es_arrivals_{tag}")
    store_root = os.path.join(base, f"spark_graft_es_store_{tag}")
    ckpt = os.path.join(base, f"spark_graft_es_ckpt_{tag}")

    wdocs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr("least(8, 1 + length(text) div 80)")
        .cast("long")
        .alias("w"),
    )
    seed = os.path.join(store_root, "gen-0")
    if not os.path.exists(os.path.join(seed, "_SUCCESS")):
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(store_root, ignore_errors=True)
        spark.createDataFrame(
            [], "doc_id bigint, w bigint, es_key bigint"
        ).write.mode("overwrite").parquet(seed)
    _write_ordered_stream_fixture(stream_dir, (
        ("docs_00.parquet", wdocs.filter(F.col("doc_id") % 2 == 0),
         1_000_000_000),
        ("docs_01.parquet", wdocs.filter(F.col("doc_id") % 2 == 1),
         1_000_000_100),
    ))
    schema = spark.read.parquet(
        os.path.join(stream_dir, "docs_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_weighted_sample(
        stream, store_root, ckpt, k=50,
        query_name="streaming_weighted_sample_wor_docs",
    )
    latest = max(
        int(name.split("-", 1)[1])
        for name in _fs_glob(store_root, "gen-*", spark)
        if name.split("-", 1)[1].isdigit()
    )
    drained = spark.read.parquet(f"{store_root}/gen-{latest}")
    w = Window.orderBy(F.col("es_key").desc(), F.col("doc_id"))
    return drained.withColumn(
        "rn", F.row_number().over(w)
    ).select("doc_id", "w", "es_key", "rn")


# streaming_kneser_ney_docs shares the batch twin's strict oracle
# VERBATIM (the drained store reconstructs the identical model and
# per-doc weights; equality asserted in tests/test_streaming.py)
_ORACLES["streaming_kneser_ney_docs"] = _ORACLES["kneser_ney_docs"]

# sf1 scaled forms of the real-airports pipeline pair (identical
# oracle SQL; see _bestap_two_phase)
SCALED_ORACLES["approach_pipeline_real_airports"] = _bestap_two_phase(
    _ORACLES["approach_pipeline_real_airports"]
)
SCALED_ORACLES["streaming_approach_work_queue_real"] = _bestap_two_phase(
    _ORACLES["streaming_approach_work_queue_real"]
)


# ---------------------------------------------------------------------------
# SALSA hub/authority scoring (tenth graph operator)
# ---------------------------------------------------------------------------

def _salsa_iter_sql(prev_auth: str, idx: int) -> str:
    """One unrolled integer-micro SALSA alternation (hub half then
    authority half) as CTEs — see operators/graphs.salsa_micro for
    the arithmetic contract (BIGINT micros, score DIV degree
    half-steps, both transitions stochastic)."""
    return f"""
    sh{idx} AS (
      SELECT se.s AS node, SUM(a.a // si.ideg) AS h
      FROM se JOIN {prev_auth} a ON a.node = se.t
              JOIN sid si ON si.t = se.t
      GROUP BY se.s
    ),
    sa{idx} AS (
      SELECT se.t AS node, SUM(h.h // so.odeg) AS a
      FROM se JOIN sh{idx} h ON h.node = se.s
              JOIN sod so ON so.s = se.s
      GROUP BY se.t
    )"""


@register(
    "salsa_users_events",
    f"""
    WITH ccells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'click'
    ), pcells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), se AS (
      SELECT DISTINCT c.user_id AS s, p.user_id AS t
      FROM ccells c JOIN pcells p
        ON c.h = p.h AND c.user_id <> p.user_id
    ), sod AS (
      SELECT s, COUNT(*) AS odeg FROM se GROUP BY s
    ), sid AS (
      SELECT t, COUNT(*) AS ideg FROM se GROUP BY t
    ), sa0 AS (
      SELECT t AS node, CAST(1000000 AS BIGINT) AS a FROM sid
    ),{_salsa_iter_sql('sa0', 1)},{_salsa_iter_sql('sa1', 2)}
    SELECT COALESCE(h.node, a.node) AS user_id,
           CAST(COALESCE(h.h, 0) AS BIGINT) AS hub_micro,
           CAST(COALESCE(a.a, 0) AS BIGINT) AS auth_micro
    FROM sh2 h FULL JOIN sa2 a ON a.node = h.node
    """,
)
def salsa_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALSA hub/authority scoring (Lempel & Moran 2000) over the
    DIRECTED click->purchase influence graph — the tenth graph
    operator, and the directed-graph companion of pagerank_events:
    user a links to user b when a clicked and b purchased inside the
    same 600 s cell, so hubs are browsers whose activity co-occurs
    with many buyers and authorities are the buyers they point at.
    Both SALSA half-steps are stochastic (score DIV degree), so the
    whole 2-iteration power method is exact BIGINT micro arithmetic
    with no normalization scalar and no overflow — every engine
    computes identical integers (operators/graphs.salsa_micro; the
    same reasoning that picked rational-damped PageRank and
    transcendental-free PMI). The DuckDB oracle unrolls the two
    alternations as CTEs. Scale shape: per half-step one edge-sized
    SMJ against a once-sorted checkpointed degree-annotated edge
    table + one map-side-combining groupBy; score state is one row
    per node."""
    from ..operators.graphs import salsa_micro

    ev = load(spark, sf_dir, "events")

    def cells(etype: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select(
                "user_id",
                F.floor(F.unix_timestamp("ts") / 600)
                .cast("long")
                .alias("h"),
            )
            .distinct()
        )

    edges = (
        cells("click").alias("c")
        .join(
            cells("purchase").alias("p"),
            (F.col("c.h") == F.col("p.h"))
            & (F.col("c.user_id") != F.col("p.user_id")),
        )
        .select(
            F.col("c.user_id").alias("s"),
            F.col("p.user_id").alias("t"),
        )
        .distinct()
    )
    return salsa_micro(edges, n_iter=2).withColumnRenamed(
        "node", "user_id"
    )


@register(
    "link_prediction_ra_events",
    """
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT DISTINCT a.user_id AS a, b.user_id AS b
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), adj AS (
      SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e
    ), d AS (
      SELECT z, COUNT(*) AS deg FROM adj GROUP BY z
    ), wedges AS (
      SELECT l.n AS a, r.n AS b, d.deg
      FROM adj l JOIN adj r ON l.z = r.z AND l.n < r.n
                 JOIN d ON d.z = l.z
    ), scored AS (
      SELECT w.a, w.b, SUM(1000000 // w.deg) AS ra_micro
      FROM wedges w
      WHERE NOT EXISTS (
        SELECT 1 FROM e WHERE e.a = w.a AND e.b = w.b
      )
      GROUP BY w.a, w.b
    ), ranked AS (
      SELECT a, b, CAST(ra_micro AS BIGINT) AS ra_micro,
             CAST(ROW_NUMBER() OVER (
               ORDER BY ra_micro DESC, a, b) AS INT) AS rn
      FROM scored
    )
    SELECT a, b, ra_micro, rn FROM ranked WHERE rn <= 20
    """,
)
def link_prediction_ra_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-20 link prediction by the Resource-Allocation index (Zhou,
    Lu & Zhang 2009) over the purchase co-occurrence graph — the
    recommender-shaped graph query (which non-co-purchasing user pair
    is most likely to co-purchase next?), and the catalog's
    demonstration that the classic similarity-index family fits the
    strict-oracle doctrine when the index is RATIONAL: RA's
    1/deg(common neighbor) becomes 1_000_000 DIV deg micros, where
    Adamic-Adar's 1/log(deg) would need a transcendental
    (operators/graphs.link_prediction_ra). Ranking is total
    (score DESC, a, b), so the 20-row answer is bit-stable. Scale
    shape: one repartition+sort on the center key feeds both sides of
    the wedge self-join, one anti-join against the edge set, one
    map-side-combining sum, one k-row TakeOrdered; wedge volume is
    SUM deg^2 (inherent to the index), with the deg_cap escape hatch
    documented for hub-heavy graphs."""
    from ..operators.graphs import link_prediction_ra

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    edges = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u"),
            F.col("b.user_id").alias("v"),
        )
        .distinct()
    )
    return link_prediction_ra(edges, k=20)


def _harmonic_round_sql(prev: str, r: int) -> str:
    """One unrolled (landmark, node)-keyed BFS round as CTEs — see
    operators/graphs.landmark_harmonic."""
    return f"""
    hc{r} AS (
      SELECT p.lm, de.t AS node, p.hop + 1 AS hop
      FROM de JOIN {prev} p ON de.s = p.node
      UNION ALL SELECT lm, node, hop FROM {prev}
    ), hd{r} AS (
      SELECT lm, node, MIN(hop) AS hop FROM hc{r} GROUP BY 1, 2
    )"""


@register(
    "harmonic_centrality_users_events",
    f"""
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'click'
    ), e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), de AS (
      SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e
    ), nodes AS (
      SELECT DISTINCT s FROM de
    ), hd0 AS (
      SELECT s AS lm, s AS node, 0 AS hop FROM nodes WHERE s % 17 = 0
    ),{_harmonic_round_sql('hd0', 1)},{_harmonic_round_sql('hd1', 2)},
    {_harmonic_round_sql('hd2', 3)}
    SELECT node AS user_id,
           CAST(SUM(1000000 // hop) AS BIGINT) AS harmonic_micro,
           COUNT(*) AS n_reached
    FROM hd3 WHERE hop >= 1 GROUP BY node
    """,
)
def harmonic_centrality_users_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Landmark-approximated harmonic centrality (Boldi & Vigna 2014;
    Eppstein & Wang 2004 sampling) over the click co-occurrence graph
    — the eleventh graph operator, and the centrality member of the
    family: hop-capped multi-source BFS keyed (landmark, node) from
    the user_id % 17 landmark cohort, folded to
    SUM(1_000_000 DIV hop) micros per node. 1/dist is rational, so
    the whole estimator is exact BIGINT arithmetic
    (operators/graphs.landmark_harmonic); the DuckDB oracle unrolls
    the identical three rounds over the pair-keyed state. Scale
    shape: per round ONE edge-sized SMJ against the once-sorted
    checkpointed edge table relaxes ALL landmarks at once (state
    rows, not round count, scale with the landmark budget) + a
    map-side-combining min fold with an eager node-sized cut."""
    from ..operators.graphs import landmark_harmonic

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600)
            .cast("long")
            .alias("h"),
        )
        .distinct()
    )
    edges = (
        cells.alias("a")
        .join(
            cells.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u"),
            F.col("b.user_id").alias("v"),
        )
        .distinct()
        # four consumers replan the cells self-join otherwise: both
        # directions of the operator's de union AND both sides of the
        # landmark derivation below — one lazy cut runs it once
        .localCheckpoint(eager=False)
    )
    landmarks = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .filter(F.col("node") % 17 == 0)
        .distinct()
    )
    return landmark_harmonic(edges, landmarks, n_rounds=3).withColumnRenamed(
        "node", "user_id"
    )


@register(
    "local_clustering_events",
    """
    WITH cells AS (
      SELECT DISTINCT user_id,
             CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS h
      FROM events WHERE event_type = 'purchase'
    ), e AS (
      SELECT DISTINCT a.user_id AS u, b.user_id AS v
      FROM cells a JOIN cells b ON a.h = b.h AND a.user_id < b.user_id
    ), d AS (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ), t AS (
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT unnest([a, b, c]) AS node FROM tri
      ) GROUP BY node
    )
    SELECT d.node AS user_id, d.deg,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           CAST(CASE WHEN d.deg >= 2 THEN
             (2000000 * COALESCE(t.n_triangles, 0))
               // (d.deg * (d.deg - 1))
           ELSE 0 END AS BIGINT) AS lcc_micro
    FROM d LEFT JOIN t ON t.node = d.node
    """,
)
def local_clustering_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user local clustering coefficient (Watts & Strogatz 1998)
    over the purchase co-occurrence graph — the twelfth graph
    operator: how clique-like is each user's co-purchase
    neighborhood? lcc = 2*triangles / deg*(deg-1) is rational, so the
    answer is exact micros (operators/graphs.local_clustering);
    triangle counts reuse the degree-ordered compact-forward
    enumeration (hub-safe O(sqrt(m)) wedge fan-out), while the oracle
    counts triangles by the naive ordered triple join — an algebraic
    cross-check, not an implementation echo. Scale shape: the
    triangle pipeline's two node-keyed SMJs + one explode/groupBy,
    then a node-sized left join against the degree table."""
    from ..operators.graphs import local_clustering

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.floor(F.unix_timestamp("ts") / 600).alias("h"),
        )
        .distinct()
    )
    a, b = cells.alias("a"), cells.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v")
        )
        .distinct()
    )
    return local_clustering(edges).withColumnRenamed("node", "user_id")


@register(
    "winnow_match_pairs_docs",
    f"""
    WITH nd AS (
      SELECT doc_id, {NORM_SQL} AS t FROM documents
    ), pos_g AS (
      SELECT doc_id, t,
             unnest(range(1, length(t) - 8 + 2)) AS pos
      FROM nd WHERE length(t) >= 8
    ), keyed AS (
      SELECT doc_id, pos,
             CAST(concat('0x', substr(md5(substr(t, pos, 8)), 1, 12))
                  AS BIGINT) * 32768 + (32767 - pos) AS key
      FROM pos_g
    ), sel AS (
      SELECT DISTINCT doc_id,
             MIN(key) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING
             ) // 32768 AS fp
      FROM keyed
      QUALIFY pos <= MAX(pos) OVER (PARTITION BY doc_id) - 4 + 1
    ), df_cut AS (
      SELECT fp FROM sel GROUP BY fp HAVING COUNT(*) <= 50
    ), kept AS (
      SELECT s.doc_id, s.fp FROM sel s JOIN df_cut USING (fp)
    ), pairs AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
             COUNT(*) AS n_shared
      FROM kept x JOIN kept y
        ON x.fp = y.fp AND x.doc_id < y.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )
    SELECT doc_a, doc_b, n_shared,
           CAST(ROW_NUMBER() OVER (
             ORDER BY n_shared DESC, doc_a, doc_b) AS INT) AS rn
    FROM pairs
    QUALIFY rn <= 20
    """,
)
def winnow_match_pairs_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRUE sliding-window winnowing match pairs (Schleimer,
    Wilkerson & Aiken 2003 — the MOSS fingerprinter) over the
    documents table: top-20 document pairs by shared selected
    fingerprints, the containment-detection upgrade of the banded
    winnow sketch (functions/text.winnow, pytest-only) to a
    first-class strict-oracle query. The rightmost-min selection rule
    collapses to ONE plain min() window aggregate in both engines via
    the 48-bit-hash x 15-bit-position BIGINT key pack
    (operators/dedup.winnow_fingerprints) — no argmin, no tie UDF.
    Scale shape: gram explosion ~ chars, doc-partitioned ROWS-frame
    window (no cross-doc shuffle), posting-list df-cut before the
    pair join (the quadratic guard every dedup member applies),
    k-row TakeOrdered tail."""
    from ..operators.dedup import winnow_match_pairs

    docs = load(spark, sf_dir, "documents")
    return winnow_match_pairs(docs, k=8, w=4, min_shared=2,
                              max_df=50, topk=20)


def streaming_winnow_match_docs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming ingestion twin of winnow_match_pairs_docs — the
    seventh mergeable-ingestion family member, with the simplest
    merge law of all: winnowing fingerprints are a pure per-document
    function, so the union of per-batch stores over disjoint batches
    IS the whole-corpus fingerprint table
    (streaming/foreach_batch.stream_winnow_fingerprints). Documents
    arrive in two id-ordered micro-batches; the drained store runs
    the identical df-cut + pair-join + rank tail
    (operators/dedup.winnow_pairs_from_fps), so the twin shares the
    batch query's strict oracle VERBATIM (equality with the batch
    result also asserted in tests/test_streaming.py)."""
    import hashlib
    import os

    from ..operators.dedup import winnow_pairs_from_fps
    from ..streaming.foreach_batch import stream_winnow_fingerprints

    docs = load(spark, sf_dir, "documents")
    src = os.path.realpath(f"{sf_dir}/documents.parquet")
    try:
        st = os.stat(src)
    except OSError:
        st = None
    tag = hashlib.md5(
        f"winnow-v1:{src}:{getattr(st, 'st_mtime_ns', 0)}:"
        f"{getattr(st, 'st_size', 0)}".encode()
    ).hexdigest()[:12]
    base = _scratch_dir()
    stream_dir = os.path.join(base, f"spark_graft_winnow_arrivals_{tag}")
    store_root = os.path.join(base, f"spark_graft_winnow_store_{tag}")
    ckpt = os.path.join(base, f"spark_graft_winnow_ckpt_{tag}")

    wdocs = docs.select("doc_id", "text")
    if not os.path.exists(os.path.join(stream_dir, "_READY")):
        b = wdocs.agg(
            F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx")
        ).first()
        mid = (int(b["mn"]) + int(b["mx"])) // 2
        _write_ordered_stream_fixture(stream_dir, (
            ("docs_00.parquet", wdocs.filter(F.col("doc_id") <= mid),
             1_000_000_000),
            ("docs_01.parquet", wdocs.filter(F.col("doc_id") > mid),
             1_000_000_100),
        ))
    schema = spark.read.parquet(
        os.path.join(stream_dir, "docs_00.parquet")
    ).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    stream_winnow_fingerprints(
        stream, store_root, ckpt, k=8, w=4,
        query_name="streaming_winnow_match_docs",
    )
    drained = spark.read.parquet(store_root).select("id", "fp")
    return winnow_pairs_from_fps(
        drained, min_shared=2, max_df=50, topk=20
    )


# shares the batch twin's strict oracle VERBATIM (pure per-document
# fingerprints: union of disjoint batch stores == whole-corpus table)
register(
    "streaming_winnow_match_docs",
    _ORACLES["winnow_match_pairs_docs"],
)(streaming_winnow_match_docs)


@register(
    "cdc_chunks_docs",
    f"""
    WITH nd AS (
      SELECT doc_id, {NORM_SQL} AS t FROM documents
      WHERE length({NORM_SQL}) > 0
    ), sized AS (
      SELECT doc_id, t, length(t) AS n FROM nd
    ), g AS (
      SELECT doc_id, t, n, unnest(range(1, n - 8 + 2)) AS pos
      FROM sized WHERE n >= 8
    ), bc AS (
      SELECT doc_id, t, n, pos + 8 - 1 AS cut
      FROM g
      WHERE CAST(concat('0x', substr(md5(substr(t, pos, 8)), 1, 12))
                 AS BIGINT) % 64 = 0
    ), cuts AS (
      SELECT DISTINCT doc_id, t, n, cut FROM (
        SELECT doc_id, t, n, cut FROM bc
        UNION ALL SELECT doc_id, t, n, n FROM sized
      ) WHERE cut <= n
    ), chunks AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY cut) AS chunk_idx,
             COALESCE(LAG(cut) OVER (
               PARTITION BY doc_id ORDER BY cut), 0) + 1 AS start,
             cut, t
      FROM cuts
    )
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           CAST(start AS INT) AS start,
           CAST(cut - start + 1 AS INT) AS chunk_len,
           CAST(concat('0x', substr(md5(substr(t, start,
                cut - start + 1)), 1, 12)) AS BIGINT) AS chunk_fp
    FROM chunks
    """,
)
def cdc_chunks_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Muthitacharoen et al. 2001's LBFS
    scheme) over the documents table — the storage/transfer-dedup
    complement of the fixed-stride chunk_docs: boundaries fall where
    the 48-bit md5 of the 8-char gram is ≡ 0 mod 64, so an edit
    reflows only its own chunk and identical passages yield identical
    chunk fingerprints across documents
    (operators/corpus.cdc_chunks). Fully declarative basic CDC (the
    FastCDC min-clamp would chain boundaries sequentially — rejected
    by design, documented there). Scale shape: gram explode ~ chars,
    boundary filter keeps ~1/64, one doc-partitioned lag window; no
    cross-doc shuffle."""
    from ..operators.corpus import cdc_chunks

    docs = load(spark, sf_dir, "documents")
    return cdc_chunks(docs, k=8, divisor=64).withColumnRenamed(
        "id", "doc_id"
    )
