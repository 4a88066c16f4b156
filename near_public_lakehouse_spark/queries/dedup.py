"""Deduplication operators over `documents`: exact (hash-groupBy),
n-gram Jaccard within blocking keys, MinHash+LSH banding, SimHash.

Cross-engine determinism trick: token -> 32-bit integer via the first 8 hex
chars of md5, which both Spark (`conv(substr(md5(t),1,8),16,10)`) and
DuckDB (`('0x'||substr(md5(t),1,8))::BIGINT`) compute identically — so even
the MinHash/LSH pipeline is fully oracle-checked, not just rows-counted.

Scale design: every variant is a map (per-doc signature, array HOFs, no
Python) followed by ONE shuffle on a compact key (fingerprint / band key /
block key). Pairwise comparison only ever happens inside buckets — the
all-pairs O(n^2) join never appears at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from near_public_lakehouse_spark.functions.numeric import md5_prefix_int

from near_public_lakehouse_spark.queries.registry import query
from near_public_lakehouse_spark.queries.text import TOKENS_SQL
from near_public_lakehouse_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# shared hashing vocabulary (identical on both engines)

# DuckDB: distinct tokens of lower(text)
DTOKS_SQL = "list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))"
# DuckDB: token -> 32-bit int
TOKHASH_SQL = "list_transform({toks}, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT)"

# MinHash family h_i(x) = (a_i * x + b_i) mod p  (p prime > 2^32; a_i small
# so a_i*x stays far below 2^63). 12 hashes -> 4 bands of 3 rows.
MINHASH_P = 4_294_967_311
MINHASH_A = (3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41)
MINHASH_B = (1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233)
BAND_SIZE = 3
N_BANDS = len(MINHASH_A) // BAND_SIZE


def _dtoks_col():
    return F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    )


def _tokhash_col(toks):
    return F.transform(
        toks,
        lambda t: md5_prefix_int(t),
    )


@query(
    "exact_dup_groups",
    tags=("dedup",),
    oracle="""
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS keeper_doc_id
FROM (SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents)
GROUP BY fingerprint
HAVING count(*) > 1
ORDER BY fingerprint
""",
)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a 128-bit content fingerprint. The
    canonical keeper is min(doc_id). One shuffle on the hash — at 100 TB
    this is the cheapest possible dedup and always runs first."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fingerprint")
    )


# Oversized-block guard for the exact blocked self-join: a block with n
# docs emits n(n-1)/2 comparisons, so one hot (source, len_bucket) key goes
# quadratic no matter how good the plan. Blocks past this cap are excluded
# from the exact pair product (the LSH composite `near_dup_pairs_lsh` is
# the scale path that still covers them). 4096 docs = ~8.4M comparisons
# per block worst case — bounded work per key; never binds on the test
# corpora, and the guard itself is one broadcastable count aggregate.
JACCARD_MAX_BLOCK = 4096


@query(
    "ngram_jaccard_pairs",
    tags=("dedup", "J7"),
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, n_chars // 64 AS len_bucket, {DTOKS_SQL} AS toks
  FROM documents
),
ok AS (
  SELECT source, len_bucket FROM d
  GROUP BY source, len_bucket HAVING count(*) <= {JACCARD_MAX_BLOCK}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
         / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jaccard
FROM d a
JOIN ok ON a.source = ok.source AND a.len_bucket = ok.len_bucket
JOIN d b
  ON a.source = b.source AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.8
ORDER BY doc_a, doc_b
""",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: token-set Jaccard >= 0.8 within blocking keys
    (source, length-bucket). Blocking bounds the candidate set so the join
    is equi-key + residual — never all-pairs — and blocks larger than
    JACCARD_MAX_BLOCK are excluded outright (deterministically, mirrored in
    the oracle), so per-key work is bounded at any corpus size. Union size
    is computed as |A|+|B|-|A∩B| to sidestep engine-specific union-dedup
    semantics."""
    docs = load_table(spark, sf_dir, "documents")
    return _jaccard_pairs(docs).orderBy("doc_a", "doc_b")


def _jaccard_pairs(
    docs: DataFrame, max_block: int = JACCARD_MAX_BLOCK, observation=None
) -> DataFrame:
    """Unordered (doc_a < doc_b, jaccard) near-dup pairs within
    (source, len_bucket) blocks of at most `max_block` documents.

    Pass a ``pyspark.sql.Observation`` to make the `max_block` truncation
    visible: after any action on the result, ``observation.get`` reports
    ``dropped_blocks`` / ``dropped_docs`` (blocks excluded by the guard and
    the documents inside them). Collected in the same pass as the block
    census — no second scan.
    """
    d = docs.select(
        "doc_id",
        "source",
        (F.col("n_chars") / 64).cast("int").alias("len_bucket"),
        _dtoks_col().alias("toks"),
    )
    blocks = d.groupBy("source", "len_bucket").agg(F.count(F.lit(1)).alias("__block_n"))
    if observation is not None:
        over = F.col("__block_n") > max_block
        blocks = blocks.observe(
            observation,
            F.sum(over.cast("long")).alias("dropped_blocks"),
            F.sum(F.when(over, F.col("__block_n")).otherwise(0)).alias("dropped_docs"),
        )
    ok = blocks.filter(F.col("__block_n") <= max_block).drop("__block_n")
    d = d.join(F.broadcast(ok), ["source", "len_bucket"])
    a = d.alias("a")
    b = d.alias("b")
    _, _, jac = jaccard_cols(F.col("a.toks"), F.col("b.toks"))
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
    )


def _minhash_sql(i: int) -> str:
    hashes = TOKHASH_SQL.format(toks=DTOKS_SQL)
    return (
        f"list_min(list_transform({hashes}, "
        f"h -> ({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MINHASH_P}))"
    )


def _band_keys_sql() -> str:
    bands = []
    for band in range(N_BANDS):
        parts = [
            f"CAST({_minhash_sql(band * BAND_SIZE + k)} AS VARCHAR)" for k in range(BAND_SIZE)
        ]
        bands.append(f"'{band}:' || " + " || '_' || ".join(parts))
    return "[" + ", ".join(bands) + "]"


def _sig_df(docs: DataFrame, *extra: str, toks_col: str | None = None) -> DataFrame:
    """(doc_id, *extra, sig ARRAY<BIGINT>): the 12 min-hash signature per
    input row (needs `doc_id` and `text`; pass-through columns by name).
    `toks_col` names an ALREADY-COMPUTED distinct-token array column to
    hash instead of re-deriving `_dtoks_col()` from `text` — callers that
    carry `toks` anyway (the assignments pipeline) would otherwise run the
    split+lower+distinct tokenizer twice per document and have to keep the
    raw `text` alive just to feed the second pass.

    Hash every token ONCE per row: a plain projection would be inlined
    back into all 12 min-hash expressions by Catalyst's project collapse,
    so the token-hash array is let-bound as a higher-order-function lambda
    variable instead (the transform-over-singleton idiom). NB: all lambdas
    are unary on purpose — a second (defaulted) parameter would make Spark
    pass the array index into it."""
    params = F.array(
        *[
            F.struct(F.lit(MINHASH_A[i]).alias("a"), F.lit(MINHASH_B[i]).alias("b"))
            for i in range(len(MINHASH_A))
        ]
    )
    toks = F.col(toks_col) if toks_col else _dtoks_col()
    sig_expr = F.transform(
        F.array(_tokhash_col(toks)),
        lambda th: F.transform(
            params,
            lambda p: F.array_min(
                F.transform(th, lambda h: (p["a"] * h + p["b"]) % F.lit(MINHASH_P))
            ),
        ),
    )[0]
    return docs.select("doc_id", *extra, sig_expr.alias("sig"))


def jaccard_cols(ta, tb):
    """(intersection size, union size, jaccard) over two token-array
    columns — THE dedup similarity, shared by every verify site in this
    module and adaptive_lsh (r14 review: five verbatim copies could
    silently drift)."""
    inter = F.size(F.array_intersect(ta, tb))
    union = F.size(ta) + F.size(tb) - inter
    return inter, union, inter.cast("double") / union


# --- decision-frame partition sizing (r15 optimization round, guide §2.2).
# A shuffle with M map tasks and R reduce buckets creates M x R streams,
# each with a fixed serializer/compression setup cost — measured on this
# machine at ~5-10 ms of executor CPU per stream. A 5,000-row signature
# frame checkpointed at 64 partitions therefore made EVERY downstream
# aggregate burn ~40 task-seconds on ~1 MB of data (the near_dup profile's
# "mystery stages": 12 such stages, ~350 task-s, pure fan-out overhead —
# the local-scale face of the guide's quadratic shuffle-block growth).
# Fix per the guide: derive partition counts from MEASURED row counts so
# the same code is 1-wide at bench scale and thousands-wide at 100 TB —
# never a constant tuned to either.
DECISION_ROWS_PER_PARTITION = 500_000


def decision_parts(n_rows: int) -> int:
    """Partition count for a frame of `n_rows` small decision rows
    (ids/keys/labels, ~20-200 B each): ~500k rows per partition keeps
    partitions in the guide §2.2 size band while bounding the per-stage
    stream count. Scale-adaptive by construction — no cap, so a 10^10-row
    edge set still gets its 20k partitions.

    Floor of TWO, not one: a 1-partition frame trivially satisfies every
    required distribution, so Catalyst plans downstream keyed joins with
    NO exchange at all — which also deletes the ENSURE_REQUIREMENTS
    shuffle that is AQE's skew-split seam (the quadratic member-pair
    expansion then runs its m^2/2 output in ONE task, the exact cliff
    tests/test_skew_dedup.py pins). Two partitions keep the adaptive
    seams armed for the price of one extra tiny stream."""
    return max(2, -(-int(n_rows) // DECISION_ROWS_PER_PARTITION))


def widen_scan(docs: DataFrame) -> DataFrame:
    """Hash-widen a NARROW document scan to cluster parallelism before a
    per-row CPU-heavy projection (r16 optimization round, guide §2.5
    input skew — the k-means exploded-embedding widen applied to the
    minhash preludes): the bench corpus is one parquet file, so the
    12-minhash signature pass ran as ONE 8-13 s task feeding a 32-wide
    shuffle. Hash on doc_id (deterministic — not round-robin, so no
    sort-before-repartition pass and no SPARK-38388 retry hazard); a
    no-op whenever the scan is already at least cluster-wide, which is
    the 100 TB case."""
    dp = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < dp:
        return docs.repartition(dp, "doc_id")
    return docs


def narrowed_ckpt(df: DataFrame, n_rows: int) -> DataFrame:
    """Re-checkpoint an ALREADY-MATERIALIZED checkpoint at the width
    `decision_parts(n_rows)` prescribes, if narrower. `coalesce` over the
    existing blocks is a narrow read — the frame's lineage (tokenize,
    minhash, ...) is NOT recomputed."""
    p = decision_parts(n_rows)
    if p < df.rdd.getNumPartitions():
        return df.coalesce(p).localCheckpoint()
    return df


def sig_key_col():
    """Compact deterministic identity key for a full 12-hash signature —
    the groupable stand-in for the array itself (md5 over the joined
    hashes; grouping by it yields the same identical-signature groups as
    grouping by the array). Shared by the fixed-band group compression
    here, the adaptive calibration (queries/adaptive_lsh.py), and the
    streaming state fold (streaming/jobs.py)."""
    # NULL for a zero-token doc (its min-hashes are all NULL): concat_ws
    # SKIPS NULLs, so every empty doc would otherwise share md5("") and
    # the group machinery would pair them all — while the DuckDB oracle's
    # NULL-propagating `||` emits nothing (r14 review). A NULL key makes
    # every sk equi-join/self-join skip these rows, matching the oracle.
    return F.when(
        F.col("sig")[0].isNotNull(),
        F.md5(
            F.concat_ws(
                "_", *[F.col("sig")[i].cast("string") for i in range(len(MINHASH_A))]
            )
        ),
    )


def _fixed_band_cols():
    # NULL band keys for zero-token docs (see sig_key_col): the oracle's
    # `||` yields NULL there, and concat(lit, concat_ws(...)) would
    # otherwise emit '0:'..'3:' keys that mutually collide every empty
    # doc — O(n_empty^2) candidates the oracle never produces (r14
    # review; same guard in adaptive_lsh._s2_band_cols).
    return [
        F.when(
            F.col("sig")[0].isNotNull(),
            F.concat(
                F.lit(f"{band}:"),
                F.concat_ws(
                    "_",
                    *[
                        F.col("sig")[band * BAND_SIZE + k].cast("string")
                        for k in range(BAND_SIZE)
                    ],
                ),
            ),
        )
        for band in range(N_BANDS)
    ]


def _band_key_df(docs: DataFrame) -> DataFrame:
    """(doc_id, band_key) rows: 12 min-hashes over the distinct-token set,
    banded 4x3, per input row (needs `doc_id` and `text` columns)."""
    return _sig_df(docs).select(
        "doc_id", F.explode(F.array(*_fixed_band_cols())).alias("band_key")
    )


def _grouped_band_pairs(
    sigs: DataFrame, wide: bool = False, n_docs: int | None = None
) -> DataFrame:
    """The DISTINCT fixed-band collision pair set (doc_a < doc_b) over a
    (doc_id, sig) frame, with the quadratic band self-join run on
    IDENTICAL-SIGNATURE GROUPS (the round-11 move that brought the
    adaptive pipeline to fixed-band wall-clock, applied to the fixed
    bands themselves): members of a signature group share every band
    key, so each unordered doc pair maps to exactly one group pair
    (cross, via the band join) or one within-group pair (emitted
    unconditionally) — the same set as the doc-level band self-join +
    DISTINCT, with the quadratic stage on groups and no doc-level
    distinct shuffle. Near-dup corpora are exactly where identical
    signatures cluster (sf0.1: the grouped collision mass is ~half the
    doc-level one).

    `wide=True` pins the width/broadcast plan for the broadcast-verify
    regime: explicit partition counts where AQE's byte-based coalescing
    is blind to the collision-output CPU, member expansion joins pinned
    broadcast (without the pin, unknown-size repartition estimates push
    the planner to shuffle the pair stream — measured 6x regression).
    Callers above the broadcast bound leave it False and let AQE's
    healthy byte estimates pick the plan."""
    sk = sigs.withColumn("sk", sig_key_col())
    members = sk.select("doc_id", "sk")
    # Group pairs ride the BIGINT gid = min(doc_id) per sk group, not the
    # md5-hex sk pair (r15 optimization round, guide §2.3 — the same move
    # as the adaptive twin's gid-keying): groups partition docs, so group
    # minima are distinct and gid is a bijection onto groups; `gid_a <
    # gid_b` enumerates each unordered group pair exactly once just as
    # `sk_a < sk_b` did (both are total orders), and the final output
    # orients by least/greatest(doc) — the pair set is identical while
    # the pair-distinct shuffle and the member expansion turn from 32-char
    # string keys into 8-byte ints.
    grp = sk.groupBy("sk").agg(
        F.first("sig").alias("sig"), F.min("doc_id").alias("gid")
    )
    n_part = int(
        sigs.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    gflat = grp.select(
        "gid", F.explode(F.array(*_fixed_band_cols())).alias("band_key")
    )
    if wide:
        gflat = gflat.repartition(n_part, "band_key")
    a = gflat.alias("a")
    b = gflat.alias("b")
    gpairs = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(F.col("a.gid").alias("gid_a"), F.col("b.gid").alias("gid_b"))
        .distinct()
    )
    gidmap = grp.select("sk", "gid")
    if wide:
        gidmap = F.broadcast(gidmap)
    members_g = members.join(gidmap, "sk").select("gid", "doc_id")
    ma = members_g.select(F.col("gid").alias("gid_a"), F.col("doc_id").alias("da"))
    mb = members_g.select(F.col("gid").alias("gid_b"), F.col("doc_id").alias("db"))
    if wide:
        ma, mb = F.broadcast(ma), F.broadcast(mb)
    cross = (
        gpairs.join(ma, "gid_a")
        .join(mb, "gid_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
    )
    # Within-group pairing via the adaptive path's shared hot-group
    # machinery (r14 review: this used to be a plain self-join, leaving
    # the single-task m^2/2 cliff open on the fixed-band engine that the
    # adaptive twin had already fenced — a >50k-member identical-sig
    # group is only ~MBs of shuffle, invisible to AQE's byte-based skew
    # split, yet quadratic CPU). `n_docs` skips detection when the
    # caller's materialized count proves no group can be hot.
    from near_public_lakehouse_spark.queries.adaptive_lsh import (
        _within_group_pairs,
    )

    return cross.unionByName(
        _within_group_pairs(members_g, n_docs=n_docs, keys=("gid",))
    )


@query(
    "minhash_lsh_candidates",
    tags=("dedup", "lsh"),
    oracle=f"""
WITH sigs AS (
  SELECT doc_id, unnest({_band_keys_sql()}) AS band_key FROM documents
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM sigs a
JOIN sigs b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
""",
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: 12 min-hashes over the distinct-token set,
    banded 4x3; docs sharing any band key become candidate pairs.

    Scale notes: signatures are computed per-row with array HOFs (no
    explode of the token dimension), then ONE shuffle on band_key. Runtime
    is output-bound: a corpus with large near-dup families emits O(sum of
    family^2) candidate pairs regardless of engine (this synthetic corpus
    emits ~8M pairs at sf0.1 — ~1.5M pairs/s here). At 100 TB, bound the
    output by raising BAND_SIZE (higher Jaccard threshold) or by pairing
    only exact-dedup representatives; both knobs keep this plan shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    sigs = _band_key_df(widen_scan(docs))
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


SIMHASH_BITS = 32


@query(
    "simhash_fingerprints",
    tags=("dedup", "simhash"),
    oracle=f"""
WITH h AS (
  SELECT doc_id, unnest({TOKHASH_SQL.format(toks=DTOKS_SQL)}) AS h
  FROM documents
),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM h, (SELECT unnest(range({SIMHASH_BITS})) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(coalesce(sum(CASE WHEN s > 0 THEN CAST(pow(2, b) AS BIGINT) END), 0) AS BIGINT)
         AS simhash
FROM bits
GROUP BY doc_id
ORDER BY doc_id
""",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (32-bit) per document: majority vote of token-hash bits.

    The oracle unrolls to rows (doc x bit) because DuckDB's list_reduce
    can't carry an array accumulator; the Spark implementation keeps the
    whole computation inside array HOFs — per-row, shuffle-free, which is
    the shape that survives 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    # sort the scan, not the output: a final orderBy makes the range
    # partitioner's sampling pass evaluate the bit-vote HOF twice
    # (the curation.self_dedup_clean pattern; ~2x at sf0.1)
    return simhash_frame(docs.orderBy("doc_id"))


def simhash_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) over any frame with a `text` column."""
    hashes = _tokhash_col(_dtoks_col())
    zero = F.array_repeat(F.lit(0).cast("bigint"), SIMHASH_BITS)
    # 2^b via double pow: exact for b < 53 and, since hashes are < 2^32,
    # the division by a power of two is also exact in IEEE double.
    pow2 = lambda b: F.pow(F.lit(2.0), b).cast("bigint")  # noqa: E731
    bit_votes = F.aggregate(
        hashes,
        zero,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
                lambda b: F.when(
                    (h.cast("bigint") / pow2(b)).cast("bigint") % 2 == 1,
                    F.lit(1).cast("bigint"),
                ).otherwise(F.lit(-1).cast("bigint")),
            ),
            lambda x, y: x + y,
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda s, b: F.when(s > 0, pow2(b)).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    # Zero-token docs are OUTSIDE the fingerprint domain: the oracle's
    # unnest produces no rows for them, while the HOF fold would keep the
    # zero accumulator and emit (doc_id, 0) — a row-count divergence on
    # any corpus with an empty doc (r14 review).
    return docs.filter(F.size(hashes) > 0).select(
        "doc_id", fingerprint.alias("simhash")
    )


# Embedding-cosine near-dup: pairs above this similarity are duplicates.
COSINE_DUP_THRESHOLD = 0.35


@query(
    "embedding_near_dup",
    tags=("dedup", "embedding"),
    oracle=f"""
WITH pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
),
prods AS (SELECT id_a, id_b, unnest(ea) AS av, unnest(eb) AS bv FROM pairs),
dots AS (
  SELECT id_a, id_b,
         sum(CAST(CAST(av AS DOUBLE) * CAST(bv AS DOUBLE) AS DECIMAL(30,15))) AS dot,
         sum(CAST(CAST(av AS DOUBLE) * CAST(av AS DOUBLE) AS DECIMAL(30,15))) AS an2,
         sum(CAST(CAST(bv AS DOUBLE) * CAST(bv AS DOUBLE) AS DECIMAL(30,15))) AS bn2
  FROM prods GROUP BY id_a, id_b
)
SELECT id_a, id_b,
       CAST(dot AS DOUBLE) / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))
         AS cosine
FROM dots
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))
      >= {COSINE_DUP_THRESHOLD}
ORDER BY id_a, id_b
""",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: pairs with cosine >= threshold, candidate
    generation blocked on the cluster key (`label`) so the all-pairs join
    never materializes — same blocking discipline as ngram_jaccard_pairs.

    Scale notes: self-join is equi on the block key (co-partitioned, AQE
    handles skewed blocks); per-pair work is one HOF fold over the vectors.
    At 100 TB the block key comes from a coarse quantizer (see ivf_topk's
    centroid assignment) rather than a given label, but the plan shape —
    block equi-join then narrow map — is identical.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return _cosine_dup_pairs(emb).orderBy("id_a", "id_b")


def _cosine_dup_pairs(emb: DataFrame) -> DataFrame:
    """(id_a < id_b, cosine >= COSINE_DUP_THRESHOLD) pairs within label
    blocks — the edge core shared by embedding_near_dup and
    semantic_dedup."""
    from near_public_lakehouse_spark.queries.similarity import _dot_dec_col

    # Norms are per-vector, not per-pair: compute once before the self-join
    # (identical decimal values, 3x less fold work inside the O(pairs) part).
    withnorm = emb.select(
        "vec_id",
        "label",
        "embedding",
        F.sqrt(_dot_dec_col(F.col("embedding"), F.col("embedding")).cast("double")).alias(
            "norm"
        ),
    )
    a = withnorm.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"),
        F.col("norm").alias("na"), "label",
    )
    b = withnorm.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"),
        F.col("norm").alias("nb"), "label",
    )
    pairs = a.join(b, "label").filter(F.col("id_a") < F.col("id_b"))
    # Two-phase: a plain-double dot prefilters (cheap), the exact decimal
    # fold reruns only on survivors. The 1e-9 margin dwarfs the ~1e-13
    # double-summation error, so no true pair can be lost — the final
    # filter on the exact cosine keeps semantics bit-identical.
    fastdot = F.aggregate(
        F.zip_with(
            F.col("ea"), F.col("eb"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, p: acc + p,
    )
    candidates = pairs.filter(
        fastdot / (F.col("na") * F.col("nb")) >= COSINE_DUP_THRESHOLD - 1e-9
    )
    dot = _dot_dec_col(F.col("ea"), F.col("eb"))
    cosine = dot.cast("double") / (F.col("na") * F.col("nb"))
    return candidates.select("id_a", "id_b", cosine.alias("cosine")).filter(
        F.col("cosine") >= COSINE_DUP_THRESHOLD
    )


# The embedding_near_dup pair CTE, shared with semantic_dedup's oracle.
_COSINE_PAIRS_SQL = f"""
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.embedding AS ea, b.embedding AS eb
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
),
prods AS (SELECT id_a, id_b, unnest(ea) AS av, unnest(eb) AS bv FROM pairs),
dots AS (
  SELECT id_a, id_b,
         sum(CAST(CAST(av AS DOUBLE) * CAST(bv AS DOUBLE) AS DECIMAL(30,15))) AS dot,
         sum(CAST(CAST(av AS DOUBLE) * CAST(av AS DOUBLE) AS DECIMAL(30,15))) AS an2,
         sum(CAST(CAST(bv AS DOUBLE) * CAST(bv AS DOUBLE) AS DECIMAL(30,15))) AS bn2
  FROM prods GROUP BY id_a, id_b
),
dup_pairs AS (
  SELECT id_a, id_b
  FROM dots
  WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(an2 AS DOUBLE)) * sqrt(CAST(bn2 AS DOUBLE)))
        >= {COSINE_DUP_THRESHOLD}
)
"""


@query(
    "semantic_dedup",
    tags=("dedup", "embedding"),
    oracle=f"""
WITH {_COSINE_PAIRS_SQL.strip()}
SELECT e.vec_id, e.label, d.dup_of, d.dup_of IS NULL AS keep
FROM embeddings e
LEFT JOIN (SELECT id_b, min(id_a) AS dup_of FROM dup_pairs GROUP BY id_b) d
  ON e.vec_id = d.id_b
ORDER BY e.vec_id
""",
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDedup-style semantic deduplication: a vector is dropped iff some
    LOWER-id vector in its cluster block is cosine-similar above the
    threshold (greedy scan-order dedup — the deterministic version of
    "keep one representative per semantic duplicate group"). Emits one row
    per vector (keep flag + the elected duplicate-of id), so the product is
    O(vectors), not a pair list.

    Scale notes: same blocked self-join core as embedding_near_dup (equi
    on the cluster key, double prefilter, exact decimal refine), then one
    groupBy(id_b) min-aggregation — pair volume never leaves the executors.
    At 100 TB the label key comes from a learned coarse quantizer
    (ivf_topk's centroids) and this exact plan is the SemDedup paper's
    per-cluster pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    dups = (
        _cosine_dup_pairs(emb)
        .groupBy("id_b")
        .agg(F.min("id_a").alias("dup_of"))
    )
    return (
        emb.join(dups, emb.vec_id == dups.id_b, "left")
        .select(
            "vec_id",
            "label",
            "dup_of",
            F.col("dup_of").isNull().alias("keep"),
        )
        .orderBy("vec_id")
    )


@query(
    "near_dup_pairs_lsh",
    tags=("dedup", "lsh", "composite"),
    oracle=f"""
WITH f AS (
  SELECT doc_id, text, md5(lower(trim(text))) AS fingerprint, {DTOKS_SQL} AS toks
  FROM documents
),
reps AS (
  SELECT doc_id, text, toks FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY fingerprint) AS keeper FROM f
  ) WHERE doc_id = keeper
),
sigs AS (
  SELECT doc_id, unnest({_band_keys_sql()}) AS band_key FROM reps
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
         / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks)))
         AS jaccard
FROM cand c
JOIN reps ta ON c.doc_a = ta.doc_id
JOIN reps tb ON c.doc_b = tb.doc_id
WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
        / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.8
ORDER BY doc_a, doc_b
""",
)
def near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path near-dup composite: exact-dedup representative
    election -> MinHash-LSH banding over representatives ONLY -> exact
    token-set Jaccard verification of the LSH candidates.

    This is the chaining the standalone stages document but don't wire:
    - exact-duplicate families collapse to one representative BEFORE any
      pair is emitted, so LSH's output is bounded by representative-family
      sizes, not raw-duplicate family sizes (a corpus with a 1M-copy
      boilerplate family emits zero pairs for it here, vs ~10^12 from raw
      banding);
    - Jaccard verifies LSH candidates instead of generating its own
      candidates from (source, length-bucket) blocks — the length-block
      self-join in ngram_jaccard_pairs goes quadratic inside popular
      blocks at 100 TB, while band keys only collide on near-identical
      signatures.

    Plan: one shuffle on fingerprint (window min), one on band_key
    (candidate join), two equi-joins on doc_id to fetch token sets for
    verification — every stage key-partitioned, no all-pairs anywhere.
    LSH recall at Jaccard 0.8 with 4 bands x 3 rows is 1-(1-0.8^3)^4
    ~= 0.94 per pair; raise N_BANDS for higher recall (cost is linear in
    bands), or keep both this and the blocked variant and union.

    NB: a pair list is still an O(sum family^2) *product* — the scale-safe
    default deliverable is `near_dup_assignments` (doc -> keeper, O(docs)
    rows); this query remains the auditable intermediate."""
    docs = load_table(spark, sf_dir, "documents")
    return _lsh_verified_pairs(_exact_families(docs)).orderBy("doc_a", "doc_b")


def _exact_families(docs: DataFrame) -> DataFrame:
    """(doc_id, text, toks, keeper): exact-duplicate family election — the
    keeper is min(doc_id) within each content fingerprint."""
    from pyspark.sql import Window as W

    f = docs.select(
        "doc_id",
        "text",
        F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"),
        _dtoks_col().alias("toks"),
    )
    return f.withColumn("keeper", F.min("doc_id").over(W.partitionBy("fingerprint")))


# Below this many representatives the verification token sets are map-side
# (broadcast) instead of shuffled: candidate pairs then never move the wide
# token arrays over the network, only (doc_a, doc_b) ids. ~100k reps with
# ~1 KB token payload is ~100 MB — the usual executor broadcast comfort
# zone. Above it, the join falls back to the shuffled equi-join, which is
# the right plan when the rep table itself is cluster-scale.
VERIFY_BROADCAST_MAX_REPS = 100_000


def verify_toks_col(reps: DataFrame, n_reps: int):
    """Token-array column for exact-Jaccard verification: xxhash64-hashed
    BIGINT arrays when the hash is PROVABLY injective on this corpus's
    `toks` vocabulary, else the string arrays unchanged (r15 optimization
    round, guide §2.3 narrower types / §1.2 per-task work).

    Any INJECTIVE token mapping preserves |A∩B| and |A| — and therefore
    the Jaccard DOUBLE bit-for-bit — so exactness vs the string-semantics
    DuckDB oracles is preserved by runtime proof, not assumption: one
    bounded aggregate checks count_distinct(token) ==
    count_distinct(xxhash64(token)) (P[collision] ≈ V²/2⁶⁵; on a
    collision the string path is the silent fallback). The check scans a
    `coalesce(decision_parts(n_reps))` narrow read of the already-
    materialized checkpoint blocks: at the frame's full CPU-spreading
    width the aggregate paid ~46 task-s of M x R shuffle-stream setup on
    ~2 MB of tokens for ~1 task-second of real work."""
    vocab = (
        reps.coalesce(decision_parts(n_reps))
        .select(F.explode("toks").alias("t"))
        .agg(
            F.count_distinct(F.col("t")).alias("nt"),
            F.count_distinct(F.xxhash64("t")).alias("nh"),
        )
        .collect()[0]
    )
    if int(vocab["nt"] or 0) == int(vocab["nh"] or 0):
        return F.transform(F.col("toks"), lambda t: F.xxhash64(t))
    return F.col("toks")


def _lsh_verified_pairs(fam: DataFrame) -> DataFrame:
    """Unordered (doc_a < doc_b, jaccard >= 0.8) pairs over exact-dedup
    representatives: LSH band-key candidates, exact-Jaccard verified.

    The rep projection (tokenization + fingerprint window) is materialized
    once with ``localCheckpoint`` — it feeds three consumers (band
    signatures and both verification sides), and recomputing the md5 +
    split + distinct chain per consumer triples the dominant map cost."""
    reps = (
        fam.filter(F.col("doc_id") == F.col("keeper"))
        # toks only — the signature pass reuses `toks` via toks_col, so
        # `text` never survives the projection and the checkpoint blocks
        # every consumer re-reads stay token-sized (r15 optimization
        # round, guide §2.3; same move as _assignments_frame's reps).
        .select("doc_id", "toks")
        .localCheckpoint()
    )
    n_reps = reps.count()  # free: localCheckpoint already materialized it
    bcast = n_reps <= VERIFY_BROADCAST_MAX_REPS
    # Signatures materialized once (the band frame and the group
    # compression both re-enter them); candidates come from the
    # signature-GROUP band join — the identical pair set with the
    # quadratic stage on groups (see _grouped_band_pairs).
    cand = _grouped_band_pairs(
        _sig_df(reps, toks_col="toks").localCheckpoint(), wide=bcast, n_docs=n_reps
    )
    if bcast:
        # The broadcast verify join below runs map-side at the candidate
        # frame's parallelism; spread the pairs explicitly past AQE's
        # byte-based coalescing (blind to array_intersect CPU).
        cand = cand.repartition(
            int(reps.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
            "doc_a",
            "doc_b",
        )
    # Verify over 64-bit token hashes when PROVABLY exact on this corpus
    # (r15 optimization round; see verify_toks_col for the proof shape).
    vtoks = verify_toks_col(reps, n_reps)
    ta = reps.select(F.col("doc_id").alias("doc_a"), vtoks.alias("toks_a"))
    tb = reps.select(F.col("doc_id").alias("doc_b"), vtoks.alias("toks_b"))
    if bcast:
        ta, tb = F.broadcast(ta), F.broadcast(tb)
    _, _, jac = jaccard_cols(F.col("toks_a"), F.col("toks_b"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


def _near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite duplicate graph: LSH-verified near-dup pairs between
    representatives UNION exact-family (keeper -> member) edges. Exact
    members never enter the pair join — they attach to their keeper with
    one O(docs) projection, so edge count is O(docs + rep-pairs)."""
    # One materialization feeds both branches: without it the exact-edge
    # branch re-runs the full read + md5 + window lineage that the
    # verified-pair branch already paid for (measured ~6 s of the
    # near_dup_assignments wall at sf0.1). The family table is
    # rep-per-fingerprint sized — driver-safe to checkpoint at any SF.
    fam = _exact_families(load_table(spark, sf_dir, "documents")).localCheckpoint()
    verified = _lsh_verified_pairs(fam).select("doc_a", "doc_b")
    exact = fam.filter(F.col("doc_id") != F.col("keeper")).select(
        F.col("keeper").alias("doc_a"), F.col("doc_id").alias("doc_b")
    )
    return verified.unionByName(exact)


# The composite duplicate graph in oracle SQL: exact families + LSH-verified
# representative pairs — the same edge definition _near_dup_edges builds.
_LSH_EDGES_SQL = f"""
f AS (
  SELECT doc_id, text, md5(lower(trim(text))) AS fingerprint, {DTOKS_SQL} AS toks
  FROM documents
),
fam AS (
  SELECT doc_id, text, toks,
         min(doc_id) OVER (PARTITION BY fingerprint) AS keeper
  FROM f
),
reps AS (SELECT doc_id, text, toks FROM fam WHERE doc_id = keeper),
sigs AS (SELECT doc_id, unnest({_band_keys_sql()}) AS band_key FROM reps),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
edges AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN reps ta ON c.doc_a = ta.doc_id
  JOIN reps tb ON c.doc_b = tb.doc_id
  WHERE CAST(len(list_intersect(ta.toks, tb.toks)) AS DOUBLE)
          / (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))) >= 0.8
  UNION ALL
  SELECT keeper AS doc_a, doc_id AS doc_b FROM fam WHERE doc_id <> keeper
)"""

_CLUSTERS_SQL = f"""
WITH RECURSIVE {_LSH_EDGES_SQL},
sym AS (SELECT doc_a AS src, doc_b AS dst FROM edges
        UNION ALL SELECT doc_b, doc_a FROM edges),
reach(id, lab) AS (
  SELECT src, src FROM sym
  UNION
  SELECT s.dst, r.lab FROM reach r JOIN sym s ON s.src = r.id
),
clusters AS (SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id)"""


@query(
    "dedup_clusters",
    tags=("dedup", "cc"),
    oracle=_CLUSTERS_SQL + "\nSELECT doc_id, cluster_id FROM clusters ORDER BY doc_id",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the composite duplicate graph: every doc in
    a duplicate family gets the family's min doc_id as cluster_id (the
    keeper each family dedups to). Edges come from `_near_dup_edges` —
    exact-family keeper->member links plus the LSH-verified representative
    pairs — NOT from the (source, length-bucket) blocked self-join, whose
    popular blocks go quadratic at 100 TB before clustering even starts
    (round-2 verdict item #1).

    Implementation is iterative min-label propagation: labels start as the
    node id; each round every node takes the min label among itself and its
    neighbors; converged when no label changes. The driver-side loop is
    bounded control flow (one scalar count per round, diameter-many rounds
    — near-dup families are dense, so single digits in practice) and each
    round is one equi join + one groupBy, both shuffling on the node id.
    `localCheckpoint` truncates lineage so the plan doesn't grow per round.
    At 100 TB scale swap plain propagation for the large-star/small-star
    variant (same building blocks, O(log n) rounds guaranteed); the oracle
    is a recursive-CTE transitive closure, viable only at oracle scale.

    Why not Spark's own recursive CTE (4.x): it only supports UNION ALL in
    the recursive step (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), and without
    distinct-dedup a closure over a cyclic (symmetric) edge set
    regenerates the same (node, label) rows forever. Iterative
    propagation with a groupBy-min per round is the terminating
    equivalent.
    """
    edges = _near_dup_edges(spark, sf_dir)
    return _min_label_cc(edges).select(
        F.col("id").alias("doc_id"), F.col("lab").alias("cluster_id")
    ).orderBy("doc_id")


def _min_label_cc(edges: DataFrame) -> DataFrame:
    """(id, lab) connected-component labels by iterative min-label
    propagation over the symmetrized edge set.

    Each round does neighbor-min propagation AND pointer doubling
    (``lab <- lab[lab]``), so convergence takes O(log diameter) rounds,
    not O(diameter): plain propagation moves a component's min label one
    hop per round, which silently mislabels any component whose diameter
    exceeds the round cap (a 120-edge near-dup *chain* — each adjacent
    pair >= 0.8 similar, ends unrelated — breaks the plain loop; pinned in
    tests/test_dedup_guard.py). Doubling is one extra equi-join on the
    compact (id, lab) table per round — cheap next to the edge join, and
    the round cap of 50 now covers diameters up to ~2^50.

    Convergence detection is free: labels are monotone non-increasing
    (the old label is in the groupBy-min union, and doubling maps
    lab -> label(lab) <= lab), so the label sum strictly decreases until
    the fixpoint. An ``Observation`` folds the sum into the same pass
    that materializes each round — no separate old-vs-new join + count
    job per round."""
    from pyspark.sql import Observation

    # Compute the edge subtree ONCE (r15 optimization round, guide §2.4):
    # the symmetrizing union below consumes `edges` twice, and for
    # `dedup_clusters` that frame is the ENTIRE verify pipeline
    # (candidates + hashed-Jaccard verify) — unmaterialized, each union
    # branch re-executed it end to end (stage evidence: two ~470 MB-input
    # / 45.4 MB-exchange-write stages per run, ~120-260 task-s each, for
    # one 45.4 MB pair set). Same lazy-checkpoint move as `_pr_setup`'s
    # pairs_c: the first branch materializes the blocks inside the sym
    # checkpoint's own job, the second reads them back.
    edges_c = edges.localCheckpoint(eager=False)
    sym = edges_c.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).union(
        edges_c.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Plain checkpoint, not a co-located layout: while the (id, lab)
    # state fits a broadcast, each round's join runs broadcast (bound
    # explicitly below), which measured FASTER than a co-located SMJ
    # layout; beyond it the merge regime below takes `_merge_layout`.
    sym = sym.localCheckpoint()
    # Narrow the round-loop input to the row-count width (guide §2.2):
    # the checkpoint inherits the verify pipeline's CPU-spreading width
    # (132 partitions at bench scale for a ~12-partition-sized frame).
    n_sym = sym.count()
    sym = narrowed_ckpt(sym, n_sym)
    labels = sym.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("lab")
    )
    labels = labels.localCheckpoint()
    # Regime pick, bound at plan time (r15 optimization round — the same
    # fix as the graph trio's rounds): `labels` reaches each round as a
    # localCheckpoint RDD scan whose planner estimate is sizeInBytes=MAX,
    # so every round was PLANNED as SortMergeJoin and re-shuffled the
    # O(edges) sym side (stage evidence: four ~470 MB-input rounds writing
    # a 45 MB exchange each, 100-900 task-s per round under load). The
    # label frame is O(nodes) of two BIGINTs — measured against the
    # session broadcast threshold; beyond it the rounds keep the SMJ,
    # which is the right plan when the node set itself is cluster-scale.
    from near_public_lakehouse_spark.queries.graph import (
        _merge_layout,
        _state_broadcastable,
    )

    bcast = _state_broadcastable(edges.sparkSession, labels.count(), 0)
    if not bcast:
        # Merge regime (r16 optimization round — the VERDICT r15
        # structural item): every round's SMJ re-exchanged and re-sorted
        # the static O(edges) sym side. One src-keyed sorted cached
        # layout serves all rounds; only the label frame moves per
        # round. Unpersisted after the loop — the rounds below execute
        # EAGERLY (the Observation forces each round), so unlike the
        # lazy graph rounds nothing references the layout once labels
        # converge.
        sym = _merge_layout(sym, "src", n_sym)
    prev_sum: int | None = None
    for i in range(50):
        state = F.broadcast(labels) if bcast else labels
        prop = sym.join(state, sym.src == state.id).select(
            F.col("dst").alias("id"), F.col("lab")
        )
        merged = labels.union(prop).groupBy("id").agg(F.min("lab").alias("lab"))
        # pointer doubling: every label jumps to its label's label. Label
        # values are node ids, so the lookup join always hits; coalesce
        # only guards the theoretical miss.
        lut = merged.select(F.col("id").alias("p_id"), F.col("lab").alias("p_lab"))
        if bcast:
            lut = F.broadcast(lut)
        obs = Observation(f"cc_round_{i}")
        new_labels = (
            merged.join(lut, merged.lab == lut.p_id, "left")
            .select(merged.id, F.coalesce("p_lab", "lab").alias("lab"))
            .observe(obs, F.sum("lab").alias("lab_sum"))
            .localCheckpoint()
        )
        lab_sum = obs.get["lab_sum"]
        labels = new_labels
        # None == None also converges: an EMPTY edge set sums to None every
        # round, and without this it would spin all 50 (empty) rounds.
        if lab_sum == prev_sum and i > 0:
            break
        prev_sum = lab_sum
    if not bcast:
        sym.unpersist()
    return labels


def _star_cc(edges: DataFrame, include_roots: bool = True) -> DataFrame:
    """(id, lab) connected-component labels via alternating large-star /
    small-star rounds (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014 — public algorithm) — the dense-graph scale
    path promised by `_min_label_cc`'s docstring.

    Why a second engine: min-label propagation moves O(edges) rows per
    round forever — on a DENSE duplicate graph (a crawl snapshot where one
    boilerplate family is millions of near-identical pages) every round
    re-shuffles the full edge multiset. Star contraction instead REWRITES
    the edge set toward a forest of stars: each round's output is at most
    one parent-edge per (node, round) pair, so dense cliques collapse to
    stars after the first large-star round and subsequent rounds move
    O(nodes) rows, not O(edges). Convergence is O(log^2 n) rounds
    worst-case, O(log n) in practice — same guarantee class as pointer
    doubling, but with shrinking per-round IO instead of constant.

    Round anatomy (all builtin exprs, two shuffles per half-round —
    groupBy-min on the node id plus the join back):
      large-star: for every node u, attach each strictly-LARGER neighbor
        v > u to m = min(N(u) ∪ {u}).
      small-star: orient edges child>parent; for every node u, attach its
        smaller neighbors (and u itself) to m = min of those neighbors.
    Both halves strictly decrease the potential sum of (node, min-known-
    label); the fixpoint is a star forest where every node points at its
    component minimum.

    Convergence detection: (count, xor-of-xxhash64) of the deduped edge
    set, folded into the same pass that materializes each round via
    ``Observation`` — set-equality without a second comparison job
    (bit_xor is order-independent and cannot overflow, unlike a hash sum).
    `localCheckpoint` truncates lineage per round, same discipline as
    `_min_label_cc`.
    """
    from pyspark.sql import Observation

    e = (
        edges.filter(F.col("doc_a") != F.col("doc_b"))
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    # Width discipline (r15 optimization round, guide §2.2): the edge
    # frame is already materialized, so its COUNT is a cheap block scan —
    # derive every round exchange's width from it instead of inheriting
    # spark.sql.shuffle.partitions, whose M x R stream setup dominated
    # the rounds at bench scale (each round re-shuffles a shrinking edge
    # set; the observe() count re-sizes the next round for free). The
    # explicit keyed repartitions double as the groupBy/join partitioning,
    # so each half-round still pays exactly its two exchanges — now at a
    # row-count-proportional width.
    p = decision_parts(e.count())
    if p < e.rdd.getNumPartitions():
        e = e.coalesce(p).localCheckpoint()
    # Regime pick for the per-half mins joins (r15 optimization round —
    # the `_min_label_cc` fix applied here): `mins` is O(distinct nodes)
    # of two BIGINTs, but both its join inputs are plans over checkpoint
    # scans (sizeInBytes=MAX), so every half-round was planned as SMJ and
    # paid two sorts of the (shrinking) edge frame. One bounded aggregate
    # over the materialized blocks upper-bounds the node count; under the
    # session threshold the mins side binds F.broadcast (the sym/oriented
    # repartitions stay — they are the groupBy's own exchange), beyond it
    # the aligned-SMJ shape is kept, which is right when the node set is
    # cluster-scale.
    from near_public_lakehouse_spark.queries.graph import _state_broadcastable

    nn = e.agg(
        F.approx_count_distinct("a").alias("na"),
        F.approx_count_distinct("b").alias("nb"),
    ).first()
    # 1.1x headroom on the approximate count (r15 ADVICE):
    # approx_count_distinct's default ~5% rsd can UNDERestimate, and this
    # estimate binds a hard F.broadcast — inflate it so a mins frame near
    # the threshold never force-broadcasts past the session limit.
    bcast = _state_broadcastable(
        edges.sparkSession,
        int(1.1 * (int(nn["na"] or 0) + int(nn["nb"] or 0))),
        0,
    )
    nodes = None
    if include_roots:
        nodes = (
            e.select(F.col("a").alias("id"))
            .union(e.select(F.col("b").alias("id")))
            .repartition(p, "id")
            .distinct()
            .localCheckpoint()
        )
    prev: tuple[int, int] | None = None
    for i in range(50):
        # --- large-star: v > u joins min(N(u) ∪ {u}) -----------------------
        sym = e.union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).repartition(p, "a")
        mins = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        e = (
            sym.join(F.broadcast(mins) if bcast else mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .repartition(p, "a", "b")
            .distinct()
        )
        # --- small-star: child>parent orientation, smaller nbrs + u -> min -
        oriented = e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).repartition(p, "a")
        mins = oriented.groupBy("a").agg(F.min("b").alias("m"))
        obs = Observation(f"star_round_{i}")
        e = (
            oriented.join(F.broadcast(mins) if bcast else mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("a"), F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .repartition(p, "a", "b")
            .distinct()
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("a", "b")).alias("x"),
            )
            .localCheckpoint()
        )
        sig = (obs.get["n"], obs.get["x"])
        if sig == prev:
            break
        prev = sig
        p = decision_parts(sig[0])
    # At the fixpoint e is a star forest (child -> component min); groupBy
    # min guards the pre-fixpoint break path where a child could briefly
    # hold two parents. Roots (and isolated nodes) label themselves.
    parent = e.groupBy("a").agg(F.min("b").alias("lab")).select(
        F.col("a").alias("id"), "lab"
    )
    if not include_roots:
        # CHILD rows only (r15 optimization round): a consumer that
        # left-joins these labels and coalesces a missing label to the
        # node's own id (the near_dup_assignments shape) reconstructs
        # exactly the full map — roots and isolated nodes are precisely
        # the ids absent from `parent` — without paying the O(2·edges)
        # node-set distinct + the left join below (measured ~1.7 s of
        # the near_dup wall at sf0.1).
        return parent
    return nodes.join(F.broadcast(parent) if bcast else parent, "id", "left").select(
        "id", F.coalesce("lab", F.col("id")).alias("lab")
    )


@query(
    "dedup_clusters_star",
    tags=("dedup", "cc", "star"),
    oracle=_CLUSTERS_SQL + "\nSELECT doc_id, cluster_id FROM clusters ORDER BY doc_id",
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_clusters` computed by the large-star/small-star engine
    instead of min-label pointer doubling — same composite duplicate graph
    (`_near_dup_edges`), same oracle, different iteration strategy. This is
    the engine to prefer when the duplicate graph is DENSE (boilerplate
    families with millions of members): per-round IO shrinks toward
    O(nodes) as cliques collapse to stars, where min-label re-shuffles the
    full edge multiset every round. Cross-validated against `_min_label_cc`
    on adversarial graph shapes in tests/test_star_cc.py."""
    edges = _near_dup_edges(spark, sf_dir)
    return _star_cc(edges).select(
        F.col("id").alias("doc_id"), F.col("lab").alias("cluster_id")
    ).orderBy("doc_id")


# `near_dup_assignments` — THE scale-safe dedup product (doc -> keeper,
# O(docs)) — is registered in queries/adaptive_lsh.py since round 10: its
# candidate stage routes through the per-source adaptive generator
# (VERDICT r9 task #4 unification; the fixed 4x3-band stage remains the
# engine behind `dedup_clusters`/`dedup_clusters_star` via
# `_near_dup_edges` and the banding diagnostics above).


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus

INC_JACCARD_THRESHOLD = 0.8


@query(
    "incremental_dedup",
    tags=("dedup", "lsh", "incremental"),
    oracle=f"""
WITH inc AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
cor AS (SELECT * FROM documents WHERE doc_id % 10 != 0),
exact AS (
  SELECT i.doc_id, min(c.doc_id) AS m
  FROM inc i JOIN cor c ON md5(lower(trim(i.text))) = md5(lower(trim(c.text)))
  GROUP BY i.doc_id
),
isig AS (SELECT doc_id, unnest({{bands}}) AS band_key FROM inc),
csig AS (SELECT doc_id, unnest({{bands}}) AS band_key FROM cor),
cand AS (
  SELECT DISTINCT i.doc_id AS di, c.doc_id AS dc
  FROM isig i JOIN csig c USING (band_key)
),
itoks AS (SELECT doc_id, {{dtoks}} AS toks FROM inc),
ctoks AS (SELECT doc_id, {{dtoks}} AS toks FROM cor),
ver AS (
  SELECT di AS doc_id, min(dc) AS m
  FROM cand
  JOIN itoks ON itoks.doc_id = cand.di
  JOIN ctoks ON ctoks.doc_id = cand.dc
  WHERE CAST(len(list_intersect(itoks.toks, ctoks.toks)) AS DOUBLE)
          / (len(itoks.toks) + len(ctoks.toks)
             - len(list_intersect(itoks.toks, ctoks.toks)))
        >= {INC_JACCARD_THRESHOLD}
  GROUP BY di
)
SELECT i.doc_id,
       CASE WHEN e.m IS NOT NULL THEN 'exact_dup'
            WHEN v.m IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS verdict,
       coalesce(e.m, v.m) AS matched_doc_id
FROM inc i
LEFT JOIN exact e USING (doc_id)
LEFT JOIN ver v USING (doc_id)
ORDER BY i.doc_id
""".replace("{bands}", _band_keys_sql()).replace("{dtoks}", DTOKS_SQL),
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: a new document batch is checked against
    the EXISTING corpus only (never against itself — intra-batch dedup is
    exact_dup_groups/near_dup_assignments' job on the merged result).
    Verdict per incoming doc: exact content match, LSH-verified near-dup,
    or new; matched_doc_id is the smallest matching corpus doc. The split
    here (doc_id % 10 as the incoming batch) is the fixture; the frames
    function takes any two tables.

    Scale notes: this is the steady-state shape of corpus curation — the
    incoming batch is small relative to the corpus, so every stage is
    bounded by the batch: the exact check is an equi-join on the content
    hash (batch side broadcastable), candidate generation joins batch
    band keys against the corpus band-key index (equi on band_key — at
    100 TB that index is a materialized, bucketed table maintained
    incrementally, so only matching buckets are read), and Jaccard
    verification touches only candidate pairs. Output is O(batch)."""
    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_dedup_frames(incoming, corpus).orderBy("doc_id")


def incremental_dedup_frames(incoming: DataFrame, corpus: DataFrame) -> DataFrame:
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    inc_fp = incoming.select("doc_id", fp.alias("fingerprint"))
    cor_fp = corpus.select(F.col("doc_id").alias("cdoc"), fp.alias("fingerprint"))
    exact = (
        inc_fp.join(cor_fp, "fingerprint")
        .groupBy("doc_id")
        .agg(F.min("cdoc").alias("exact_match"))
    )
    inc_bk = _band_key_df(incoming)
    cor_bk = _band_key_df(corpus).select(
        F.col("doc_id").alias("cdoc"), "band_key"
    )
    cand = inc_bk.join(cor_bk, "band_key").select("doc_id", "cdoc").distinct()
    inc_toks = incoming.select("doc_id", _dtoks_col().alias("itoks"))
    cor_toks = corpus.select(F.col("doc_id").alias("cdoc"), _dtoks_col().alias("ctoks"))
    _, _, jac = jaccard_cols(F.col("itoks"), F.col("ctoks"))
    near = (
        cand.join(inc_toks, "doc_id")
        .join(cor_toks, "cdoc")
        .filter(jac >= INC_JACCARD_THRESHOLD)
        .groupBy("doc_id")
        .agg(F.min("cdoc").alias("near_match"))
    )
    return (
        incoming.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), "exact_dup")
            .when(F.col("near_match").isNotNull(), "near_dup")
            .otherwise("new")
            .alias("verdict"),
            F.coalesce("exact_match", "near_match").alias("matched_doc_id"),
        )
    )

# ---------------------------------------------------------------------------
# substring-level duplication: hashed sliding token windows

SPAN_W = 8  # window length in tokens


@query(
    "duplicate_ngram_spans",
    tags=("dedup", "substring", "beyond-reference"),
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
w AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {SPAN_W}
              THEN list_transform(range(1, len(toks) - {SPAN_W} + 2),
                     i -> md5(array_to_string(toks[i:i+{SPAN_W - 1}], ' ')))
              ELSE CAST([] AS VARCHAR[]) END AS wins
  FROM t
),
e AS (SELECT doc_id, unnest(wins) AS win FROM w),
c AS (SELECT win, count(DISTINCT doc_id) AS ndocs FROM e GROUP BY win),
p AS (
  SELECT e.doc_id,
         count(*) AS n_windows,
         CAST(sum(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_windows
  FROM e JOIN c USING (win)
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_windows, 0) AS n_windows,
       coalesce(p.dup_windows, 0) AS dup_windows,
       CASE WHEN coalesce(p.n_windows, 0) = 0 THEN 0.0
            ELSE CAST(p.dup_windows AS DOUBLE) / p.n_windows END AS dup_fraction
FROM documents d
LEFT JOIN p USING (doc_id)
ORDER BY d.doc_id
""",
)
def duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication metric (the exact-substring dedup of Lee
    et al., "Deduplicating Training Data Makes Language Models Better",
    approximated at token-window granularity): every doc is decomposed into
    overlapping 8-token windows, a window is *duplicated* when its hash
    occurs in >= 2 distinct docs, and each doc reports the fraction of its
    windows that are duplicated. Downstream curation drops or trims docs
    with high dup_fraction — content that survives document-level dedup but
    shares boilerplate passages (licenses, navigation chrome, templates).

    Scale shape: window extraction is a per-row HOF map (no Python, no
    shuffle) emitting O(total tokens) hashes; then ONE shuffle on the
    window hash for the distinct-doc count, one hash-join back (same key,
    exchange reused), and a groupBy on doc_id. Nothing is quadratic: a
    window shared by a million docs costs one counter, not a pair list.
    The md5 could narrow to xxhash64 at scale — the hash only needs to
    distinguish windows, and a 64-bit shuffle key quarters the exchange
    bytes; md5 is kept here because both engines compute it identically.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    nwin = F.size(F.col("toks")) - SPAN_W + 1
    wins = F.when(
        F.size(F.col("toks")) >= SPAN_W,
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.md5(F.array_join(F.slice(F.col("toks"), i, SPAN_W), " ")),
        ),
    ).otherwise(F.array().cast("array<string>"))
    e = (
        docs.select("doc_id", toks.alias("toks"))
        .select("doc_id", F.explode(wins.alias("wins")).alias("win"))
    )
    c = e.groupBy("win").agg(F.countDistinct("doc_id").alias("ndocs"))
    p = (
        e.join(c, "win")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0)).alias("dup_windows"),
        )
    )
    n_windows = F.coalesce(F.col("n_windows"), F.lit(0).cast("bigint"))
    dup_windows = F.coalesce(F.col("dup_windows"), F.lit(0).cast("bigint"))
    return (
        docs.select("doc_id")
        .join(p, "doc_id", "left")
        .select(
            "doc_id",
            n_windows.alias("n_windows"),
            dup_windows.alias("dup_windows"),
            F.when(n_windows == 0, F.lit(0.0))
            .otherwise(F.col("dup_windows").cast("double") / F.col("n_windows"))
            .alias("dup_fraction"),
        )
        .orderBy("doc_id")
    )


_SUBSTRING_CLEAN_SQL = """
WITH t AS (
  SELECT doc_id, text, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
),
w AS (
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         md5(lower(array_to_string(toks[i:i+7], ' '))) AS h
  FROM t, UNNEST(range(1, greatest(len(toks) - 6, 1))) AS u(i)
),
dupwins AS (SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
ds AS (SELECT DISTINCT w.doc_id, w.i FROM w JOIN dupwins USING (h)),
covered AS (
  SELECT DISTINCT doc_id, i + CAST(o AS BIGINT) AS j
  FROM ds, UNNEST(range(0, 8)) AS q(o)
),
pos AS (
  SELECT doc_id, CAST(j AS BIGINT) AS j, toks[j] AS tok
  FROM t, UNNEST(range(1, len(toks) + 1)) AS g(j)
),
kept AS (
  SELECT p.doc_id, p.j, p.tok
  FROM pos p LEFT JOIN covered c ON p.doc_id = c.doc_id AND p.j = c.j
  WHERE c.j IS NULL
),
ka AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_toks,
         string_agg(tok, ' ' ORDER BY j) AS cleaned_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_toks,
       CASE WHEN t.toks IS NULL THEN NULL
            ELSE coalesce(ka.kept_toks, 0) END AS kept_toks,
       CAST(len(t.toks) AS BIGINT) - coalesce(ka.kept_toks, 0) AS removed_toks,
       CASE WHEN t.toks IS NULL THEN NULL
            WHEN coalesce(ka.kept_toks, 0) = CAST(len(t.toks) AS BIGINT)
            THEN t.text ELSE coalesce(ka.cleaned_text, '') END AS cleaned_text
FROM t LEFT JOIN ka USING (doc_id)
ORDER BY doc_id
"""


@query(
    "substring_dedup_clean",
    tags=("dedup", "substring", "transform", "beyond-reference"),
    bench=True,
    oracle=_SUBSTRING_CLEAN_SQL,
)
def substring_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    `duplicate_ngram_spans` MEASURES the duplicated-window fraction; this
    query performs the actual transform — every token covered by any
    8-token window that occurs in >= 2 distinct documents is cut, and the
    document is rebuilt from the surviving tokens. Output per doc:
    original/kept/removed token counts plus the cleaned text, the thing a
    curation pipeline actually writes back out.

    Scale shape, in three shuffles regardless of corpus size:
      1. window hashes explode per-row via HOFs (no Python) and shuffle
         ONCE on the hash for the distinct-doc count — a window shared by
         a million docs costs one counter, never a pair list;
      2. duplicated window starts shuffle back to their doc (groupBy
         doc_id into a per-doc start array — bounded by the doc's own
         window count, so rows stay document-sized);
      3. the rebuild is a single per-row HOF pass: token j survives iff
         no dup-window start s satisfies s <= j < s + W, checked with
         `F.exists` against the doc's own start array — O(tokens x
         dup-starts) per doc, JVM-side, no shuffle.
    """
    return substring_clean_frame(load_table(spark, sf_dir, "documents"))


def doc_windows(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(t, e): the tokenized doc table (doc_id, text, toks) — materialized
    once — and its exploded positional windows (doc_id, i, h). Shared by
    the batch transform and the streaming/incremental cleaner.

    Tokens keep the ORIGINAL casing; only the window hash lowercases (the
    md5 is over the lowercased join), so matching stays case-insensitive
    but the rebuilt text preserves the document's own characters — a
    curation pipeline must not rewrite every doc to lowercase as a side
    effect of dedup (round-6 ADVICE; Lee et al. remove spans from the
    original text)."""
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    t = docs.select("doc_id", "text", toks.alias("toks")).localCheckpoint()
    nwin = F.size(F.col("toks")) - SPAN_W + 1
    wins = F.when(
        F.size(F.col("toks")) >= SPAN_W,
        F.transform(
            F.sequence(F.lit(1), nwin),
            lambda i: F.struct(
                i.cast("long").alias("i"),
                F.md5(
                    F.lower(F.array_join(F.slice(F.col("toks"), i, SPAN_W), " "))
                ).alias("h"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<i:bigint,h:string>>"))
    e = t.select("doc_id", F.explode(wins).alias("w")).select(
        "doc_id", F.col("w.i").alias("i"), F.col("w.h").alias("h")
    )
    return t, e


def clean_against_starts(t: DataFrame, starts: DataFrame) -> DataFrame:
    """Rebuild docs from (doc_id, starts array<bigint>) dup-window starts:
    the shared per-row HOF pass of the batch and streaming cleaners."""
    st = F.coalesce(F.col("starts"), F.array().cast("array<bigint>"))
    # token j (1-based) survives iff no dup-window start covers it
    kept = F.filter(
        F.col("toks"),
        lambda x, j: ~F.exists(
            st, lambda s: (s <= j + 1) & (j + 1 < s + F.lit(SPAN_W))
        ),
    )
    n_toks = F.size(F.col("toks")).cast("long")
    kept_n = F.size(kept).cast("long")
    # Untouched docs round-trip byte-exact (original whitespace runs
    # included); docs with removals are rebuilt from the surviving
    # original-cased tokens, single-space joined — the unavoidable
    # residue of token-level (vs byte-span) removal.
    cleaned = F.when(kept_n == n_toks, F.col("text")).otherwise(
        F.array_join(kept, " ")
    )
    return (
        t.join(starts, "doc_id", "left")
        .select(
            "doc_id",
            n_toks.alias("n_toks"),
            kept_n.alias("kept_toks"),
            (n_toks - kept_n).alias("removed_toks"),
            cleaned.alias("cleaned_text"),
        )
        .orderBy("doc_id")
    )


def substring_clean_frame(docs: DataFrame) -> DataFrame:
    """Frame-level body of `substring_dedup_clean` (docs needs doc_id +
    text); split out so invariants are property-testable on synthetic
    corpora (tests/test_dedup_properties.py)."""
    t, e = doc_windows(docs)
    dup_h = (
        e.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= 2)
        .select("h")
    )
    starts = (
        e.join(dup_h, "h")
        .groupBy("doc_id")
        .agg(F.collect_set("i").alias("starts"))
    )
    return clean_against_starts(t, starts)


# ---------------------------------------------------------------------------
# cross-source contamination matrix over the composite duplicate graph

_DUP_MATRIX_SQL = f"""
WITH {_LSH_EDGES_SQL},
lab AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM edges e
  JOIN documents da ON e.doc_a = da.doc_id
  JOIN documents db ON e.doc_b = db.doc_id
)
SELECT source_a, source_b, count(*) AS n_dup_pairs
FROM lab
GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


@query("source_contamination_matrix", tags=("dedup", "lsh", "beyond-reference"), oracle=_DUP_MATRIX_SQL)
def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where does duplication come from? Every edge of the composite
    duplicate graph (exact keeper->member links + LSH-verified near-dup
    representative pairs — the same edge set `dedup_clusters` runs CC
    over) is labeled with its endpoints' sources, normalized to an
    unordered (source_a <= source_b) pair, and counted. The diagonal is
    intra-source boilerplate; off-diagonal cells are cross-source
    contamination (mirrors, scrapes of scrapes) — the number a curation
    team looks at before deciding which source to drop.

    Scale shape: two equi-joins on doc_id to attach sources (dimension-
    sized source table rides the fact partitioning), then a groupBy on a
    tiny key space (|sources|^2 cells) — partial aggregation collapses it
    map-side; the result is KB regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    edges = _near_dup_edges(spark, sf_dir)
    e = (
        edges.join(docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "source_x"), "doc_a")
        .join(docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "source_y"), "doc_b")
    )
    return (
        e.select(
            F.least("source_x", "source_y").alias("source_a"),
            F.greatest("source_x", "source_y").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# content-defined chunking: shift-invariant cross-document chunk dedup

# A chunk boundary falls AFTER any token whose 32-bit md5 hash is 0 mod
# CDC_MOD — the token-level analogue of Rabin-fingerprint content-defined
# chunking (Muthitacharoen et al., "A Low-bandwidth Network File System",
# SOSP'01). Because boundaries depend only on local content, an insertion
# early in a document re-synchronizes at the next boundary token, so
# shared tails still produce identical chunks — the shift invariance
# fixed-stride shingles lack.
CDC_MOD = 8  # expected chunk length = CDC_MOD tokens

# boundary positions + the final position n, deduplicated (DuckDB).
# list_distinct does NOT preserve order in DuckDB — the list_sort is
# load-bearing.
_CDC_ENDS_SQL = (
    "list_sort(list_distinct(list_concat("
    " list_filter(generate_series(1, len(t)),"
    "             i -> ('0x' || substr(md5(t[i]), 1, 8))::BIGINT % {m} = 0),"
    " [len(t)])))"
).format(m=CDC_MOD)

_CDC_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM documents
  WHERE len({TOKENS_SQL}) >= 1
),
e AS (SELECT doc_id, t, {_CDC_ENDS_SQL} AS ends FROM t),
ch AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(ends)),
           k -> array_to_string(
                  t[(CASE WHEN k = 1 THEN 1 ELSE ends[k - 1] + 1 END):ends[k]],
                  ' '))) AS chunk
  FROM e
),
h AS (
  SELECT doc_id, md5(chunk) AS chunk_hash,
         len(list_filter(string_split(chunk, ' '), x -> x <> '')) AS chunk_len
  FROM ch
)
SELECT chunk_hash,
       CAST(min(chunk_len) AS BIGINT) AS chunk_len,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       min(doc_id) AS example_doc_id
FROM h
GROUP BY chunk_hash
HAVING count(*) >= 2
ORDER BY n_occurrences DESC, chunk_hash
"""


def cdc_chunk_instances(docs: DataFrame) -> DataFrame:
    """(doc_id, chunk, chunk_hash, chunk_len): the content-defined chunk
    stream of every document — a per-row HOF cascade in the scan followed
    by one explode; no shuffle, no Python."""
    t = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    base = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= 1)
    ends = F.expr(
        "array_distinct(concat("
        " filter(sequence(1, size(t)),"
        f"        i -> conv(substring(md5(element_at(t, i)), 1, 8), 16, 10)"
        f"             % {CDC_MOD} = 0),"
        " array(size(t))))"
    )
    chunks = F.expr(
        "transform(sequence(1, size(ends)),"
        " k -> array_join(slice(t,"
        "   IF(k = 1, 1, element_at(ends, k - 1) + 1),"
        "   element_at(ends, k) - IF(k = 1, 0, element_at(ends, k - 1))), ' '))"
    )
    return (
        base.withColumn("ends", ends)
        .select("doc_id", F.explode(chunks).alias("chunk"))
        .select(
            "doc_id",
            "chunk",
            F.md5("chunk").alias("chunk_hash"),
            F.size(F.filter(F.split(F.col("chunk"), " "), lambda x: x != "")).alias(
                "chunk_len"
            ),
        )
    )


@query("cdc_chunk_dedup", tags=("dedup", "beyond-reference"), oracle=_CDC_ORACLE)
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup: every document is split at
    content-determined boundaries (a token whose 32-bit md5 hash is
    0 mod CDC_MOD=8 ends a chunk), chunks are fingerprinted, and chunk
    families occurring more than once are reported with occurrence/doc
    counts. Boundaries move WITH the content, so two documents sharing a
    long span produce identical chunks even when the span sits at
    different offsets — the storage-dedup trick (LBFS, SOSP'01) applied
    to corpus curation, complementing the fixed-window substring metric
    (`duplicate_ngram_spans`) with insertion tolerance.

    Scale shape: chunking is a per-row HOF cascade in the scan (no
    explode until chunks exist, no Python); then ONE shuffle keyed on
    chunk_hash whose partial aggregation collapses duplicates map-side.
    State per key is a counter, never chunk text — the hash is the key.
    At 100 TB the chunk-instance stream is ~n_tokens/CDC_MOD rows of
    (hash, doc_id), the same order as any shingle pipeline here."""
    docs = load_table(spark, sf_dir, "documents")
    inst = cdc_chunk_instances(docs).drop("chunk")
    return (
        inst.groupBy("chunk_hash")
        .agg(
            F.min("chunk_len").cast("bigint").alias("chunk_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .filter(F.col("n_occurrences") >= 2)
        .orderBy(F.desc("n_occurrences"), "chunk_hash")
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints: the MOSS local-fingerprinting scheme

WIN_K = 3  # k-gram width (tokens)
WIN_W = 4  # winnowing window over the k-gram hash stream
# Guarantee (Schleimer et al. 2003): any shared token run of length
# >= WIN_W + WIN_K - 1 (= 6) produces at least one shared fingerprint,
# and no fingerprint is farther than WIN_W k-grams from the previous one
# — position-robust partial-overlap detection with O(n / w) fingerprints
# per document instead of O(n) shingles.

# selection encoded as one BIGINT: hash * 65536 + rightmost-min position
# (positions fit 16 bits for documents up to 64Ki k-grams — widen the
# radix for longer documents; the encoding only needs to be injective
# per document for the adjacent-window dedup).
_WIN_ORACLE = f"""
WITH t AS (
  SELECT doc_id, {TOKENS_SQL} AS t FROM documents
  WHERE len({TOKENS_SQL}) >= {WIN_K}
),
h AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(t) - {WIN_K - 1}),
           i -> ('0x' || substr(md5(array_to_string(t[i:i + {WIN_K - 1}], ' ')), 1, 8))::BIGINT)
           AS hs
  FROM t
),
sel AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(hs) - {WIN_W - 1}),
           j -> list_min(hs[j:j + {WIN_W - 1}]) * 65536
                + (j + {WIN_W} - list_position(list_reverse(hs[j:j + {WIN_W - 1}]),
                                               list_min(hs[j:j + {WIN_W - 1}]))))) AS keys
  FROM h WHERE len(hs) >= {WIN_W}
),
fp AS (
  SELECT doc_id, unnest(keys) // 65536 AS fingerprint FROM sel
),
d AS (SELECT DISTINCT doc_id, fingerprint FROM fp)
SELECT fingerprint,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS example_doc_id
FROM d GROUP BY fingerprint
HAVING count(*) >= 2
ORDER BY n_docs DESC, fingerprint
"""


def winnowing_selections(docs: DataFrame) -> DataFrame:
    """(doc_id, key): the winnowed selection stream, key = fingerprint *
    65536 + 1-based-position (positions fit 16 bits for documents up to
    64Ki k-grams; widen the radix for longer documents).

    Plan shape — and why it is a window function, not a per-row HOF:
    the k-gram hashes posexplode to ROWS (Generate evaluates the md5
    transform once per document), then the rightmost minimal hash of
    every sliding window is min() over a ROWS BETWEEN CURRENT AND w-1
    FOLLOWING frame, with the hash encoded as h * 65536 + (65535 - pos)
    so ties pick the LARGEST position — the paper's rightmost rule —
    inside a single order-statistic. Two rejected per-row HOF shapes,
    both measured at sf0.001: slice/reverse/array_min allocated three
    arrays per window, and any fold doing element_at(hs, q) lookups hit
    the ProjectCollapse trap — the explode inlines the full md5
    transform into every lookup, turning the scan quadratic (~88 s for
    500 docs, size-independent). The window shuffle on doc_id is the
    honest linear cost and partitions the same way as every downstream
    doc-keyed consumer."""
    t = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    base = docs.select("doc_id", t.alias("t")).filter(F.size("t") >= WIN_K)
    # The transform is TOTAL (CASE-guarded) even though `base` already
    # filters size(t) >= WIN_K: when the explode below inlines this
    # expression, Catalyst may merge and REORDER the filter conjuncts so
    # size(hs) >= WIN_W evaluates before the size(t) guard — on a
    # sub-WIN_K doc sequence(1, 0) then DESCENDS into slice(t, 0, k),
    # which throws (r15 differential fuzz; the repo-wide sequence-empty
    # trap, this time via filter reordering rather than a missing guard).
    hs = base.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(t) >= {WIN_K} THEN "
            f"transform(sequence(1, size(t) - {WIN_K - 1}),"
            f" i -> cast(conv(substring(md5(concat_ws(' ', slice(t, i, {WIN_K}))), 1, 8), 16, 10) AS BIGINT)) "
            f"ELSE cast(array() AS array<bigint>) END"
        ).alias("hs"),
    ).filter(F.size("hs") >= WIN_W)
    ks = hs.select(
        "doc_id",
        F.size("hs").alias("n"),
        F.posexplode("hs").alias("pos", "h"),  # pos is 0-based
    )
    enc = F.col("h") * 65536 + (65535 - F.col("pos"))
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, WIN_W - 1)
    )
    sel = ks.select(
        "doc_id", "n", "pos", F.min(enc).over(w).alias("wmin")
    ).filter(F.col("pos") <= F.col("n") - WIN_W)
    fp = F.expr("wmin DIV 65536")
    pos1 = 65536 - (F.col("wmin") % 65536)  # = 0-based pos + 1
    return sel.select("doc_id", (fp * 65536 + pos1).alias("key")).distinct()


@query("winnowing_matches", tags=("dedup", "beyond-reference"), oracle=_WIN_ORACLE)
def winnowing_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer et al., SIGMOD'03 — the MOSS fingerprinting
    scheme): per document, hash every WIN_K=3-token k-gram, slide a
    WIN_W=4-wide window over the hash stream, and select each window's
    rightmost minimal hash; fingerprints shared by >= 2 documents are
    reported. The density guarantee (one fingerprint per {WIN_W} k-grams,
    every shared run >= {WIN_W + WIN_K - 1} tokens detected) is what
    fixed-stride sampling can't give and full shingling pays O(n) to get.
    Complements CDC chunking: winnowing finds partial overlap at k-gram
    granularity; CDC finds it at chunk granularity.

    Scale shape: selection is a per-row HOF cascade over named columns
    (no shuffle, ~n/{WIN_W} selected keys per doc); then the same two
    compact-key exchanges as cdc_chunk_dedup for the exact distinct-doc
    rollup. At 100 TB the fingerprint stream is the SMALLEST of the
    dedup families' candidate streams by construction."""
    docs = load_table(spark, sf_dir, "documents")
    fp = winnowing_selections(docs).select(
        "doc_id", (F.col("key") / 65536).cast("bigint").alias("fingerprint")
    )
    d = fp.distinct()
    return (
        d.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("example_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.desc("n_docs"), "fingerprint")
    )
