"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the point of this module):
- exact dedup = one hash-aggregate shuffle on the text hash (never on the
  raw text — group key is md5, 16 bytes, not the document).
- n-gram Jaccard pairs = shingle-explode + equi-join on the shingle; this is
  the exact-but-quadratic-in-cluster-size baseline the oracle can verify.
- MinHash-LSH = the 100 TB path: per-doc signature (pure codegen, no
  shuffle), band-explode (b small constant), one shuffle on (band, hash) to
  bucket, pairs only within buckets, exact-Jaccard verify join after.
  No all-pairs product ever materializes.
- SimHash = token explode + 60 codegen'd conditional sums under one
  map-side-combined groupBy (~100 shuffled bytes per doc regardless of
  text size); banding the 60 bits gives the candidate join.

Everything is Spark built-in expressions — zero Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the threshold guard is shared repo-wide (hints.py) — every change-volume
# broadcast in the maintainers goes through the same logic
from delta_go_spark.hints import broadcast_if_small
from delta_go_spark.session import load_table


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow scan up to the cluster's parallelism before
    CPU-heavy per-row work (shingling, hashing).

    A single small parquet file arrives as ONE partition, serializing the
    expression pipeline onto one core; on a real cluster the input already
    has many splits and this is a no-op.  The shuffle moves only the raw
    rows once, before any expansion.
    """
    from delta_go_spark.session import fan_out_small_scan

    return fan_out_small_scan(
        df, df.sparkSession.sparkContext.defaultParallelism
    )


# ---------------------------------------------------------------------------
# Exact dedup
def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One representative (min id) per distinct text + duplicate count.

    Groups on md5(text) so the shuffle key is 16 bytes regardless of
    document size; at 100 TB this is the difference between shuffling
    hashes and shuffling the corpus.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
        .groupBy("_h")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .drop("_h")
    )


def exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "dup_count").orderBy("doc_id")


EXACT_DEDUP_SQL = """
SELECT min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents
GROUP BY md5(text)
ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Shingling (shared by Jaccard + MinHash)
def with_shingle_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Per-doc distinct k-shingle 64-bit hashes plus the set size: one
    (doc, h, n) bigint row per distinct shingle.

    Codegen formulation: shingles explode via sequence + column-start
    slice/concat/xxhash64 — every expression whole-stage-codegen'd (the
    earlier per-doc array build ran through Spark's INTERPRETED
    higher-order transform(); this form measured 1.6x faster at sf0.1).
    The price is two extra narrow exchanges — dropDuplicates on
    (doc, hash) for the per-doc shingle SET and a doc-partitioned
    window for the set size — both moving only 16-byte pairs, the same
    data volume the downstream equi-join must shuffle anyway.  No string
    shingle survives past this frame.
    """
    from pyspark.sql import Window

    toks = F.split(F.col(text_col), " ")
    base = _spread(df).select(F.col(id_col).alias("doc"), toks.alias("_t"))
    ex = (
        base.select(
            "doc",
            "_t",
            F.explode(
                F.sequence(
                    F.lit(1), F.greatest(F.size("_t") - (k - 1), F.lit(1))
                )
            ).alias("_i"),
        )
        .select(
            "doc",
            F.xxhash64(
                F.concat_ws(" ", F.slice(F.col("_t"), F.col("_i"), k))
            ).alias("h"),
        )
        .dropDuplicates(["doc", "h"])
    )
    return ex.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc")))


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard near-dup pairs (oracle-verifiable baseline)
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """All pairs with k-shingle Jaccard >= threshold via shingle equi-join.

    The join key is the 64-bit shingle hash (8 bytes shuffled per shingle,
    not the string), so complexity is sum over shingles of
    (docs-per-shingle)^2 — quadratic only inside duplicate clusters, not in
    the corpus.
    """
    # Materialize the per-doc shingle sets ONCE (same lazy-checkpoint
    # rationale as minhash_lsh_pairs' signature table): unmaterialized,
    # Catalyst auto-broadcasts one side of the self-join at fixture scale
    # and REBUILDS the whole explode+dedup+window pipeline for it — the
    # round-13 plans showed two complete shingle subtrees and zero
    # ReusedExchange (plans/r13/cross_source_matrix_docs_before.txt).
    # The checkpoint holds the same (doc, h, n) rows the equi-join must
    # shuffle anyway.
    sh = with_shingle_hashes(df, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("da"),
            F.col("a.n").alias("na"),
            F.col("b.doc").alias("db"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        common.withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select(
            F.col("da").alias("doc_id_a"), F.col("db").alias("doc_id_b"), "jaccard"
        )
    )


def ngram_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs).orderBy("doc_id_a", "doc_id_b")


# Shared CTE chain: 3-token shingles -> >=0.6-Jaccard pairs.  Composed
# into three oracles below (plain pairs, minhash, clusters) so a shingling
# tweak cannot silently diverge them.
_JACCARD_PAIRS_CTES = """toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), exploded AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
  FROM toks
), sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
  FROM exploded
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), jpairs AS (
  SELECT doc_id_a, doc_id_b,
         round(n_common / (sa.n + sb.n - n_common), 4) AS jaccard
  FROM common
  JOIN sizes sa ON doc_id_a = sa.doc_id
  JOIN sizes sb ON doc_id_b = sb.doc_id
  WHERE n_common / (sa.n + sb.n - n_common) >= 0.6
)"""

NGRAM_JACCARD_SQL = f"""
WITH {_JACCARD_PAIRS_CTES}
SELECT doc_id_a, doc_id_b, jaccard FROM jpairs
ORDER BY doc_id_a, doc_id_b
"""

# Recursive transitive closure over jpairs -> labels(doc_id, cluster_rep).
# THE single definition of the oracle-side connected-components semantics
# (min reachable id labeling) — interpolated by every clustering oracle
# (dedup_clusters, cluster_representative here; split_cluster_safe in
# sampling.py), so a change to the closure or labeling rule lands in all
# of them at once.  The WITH must be spelled `WITH RECURSIVE` by the
# caller (DuckDB requires the keyword on the FIRST cte of the chain).
_CLOSURE_CTES = """edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM jpairs
  UNION
  SELECT doc_id_b AS src, doc_id_a AS dst FROM jpairs
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), labels AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_rep
  FROM reach GROUP BY src
)"""


# ---------------------------------------------------------------------------
# MinHash + LSH (the at-scale near-dup path)
def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 32,
    k: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature, computed entirely row-wise — ZERO shuffle.

    MinHash is embarrassingly per-document: shingle-hash array, then
    permutation j's signature is array_min over xxhash64(h, j).  Everything
    stays inside one codegen'd projection over the scan; the corpus is read
    once and nothing is exploded or aggregated.  Also carries the
    hashed-shingle set (longs, not strings) for the exact-Jaccard verify.
    """
    toks = F.split(F.col(text_col), " ")
    hset = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1))),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(toks, i, k))),
        )
    )

    def _perm(j: int):
        return F.array_min(
            F.transform(F.col("hset"), lambda h: F.xxhash64(h, F.lit(j)))
        ).alias(f"mh{j}")

    return (
        _spread(df)
        .select(F.col(id_col).alias("doc"), hset.alias("hset"))
        .select("doc", "hset", *[_perm(j) for j in range(num_perm)])
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH, then Jaccard-verified over the
    hashed-shingle sets.

    bands=8 x rows=2 keeps per-band match probability high (recall ≈ 1 for
    Jaccard ≥ 0.6 pairs) while the exact-Jaccard verify step removes all
    false candidates — with exact verification, fewer rows per band only
    costs a few extra candidates, never correctness.
    Candidate generation shuffles only (band_id, band_hash, doc_id, hset);
    verification is array_intersect over 8-byte hashes on candidates only —
    no quadratic stage ever touches the corpus.
    """
    # Signatures are materialized once (num_perm longs + hashed-shingle set
    # per doc — tiny next to the corpus); everything downstream (banding +
    # both sides of the verify join) reads the materialization instead of
    # re-shingling the text.  localCheckpoint rather than persist(): the
    # returned DataFrame is lazy, so a persist() here could never be
    # unpersisted and would pin executor memory for the session; checkpoint
    # blocks are released when the plan is garbage-collected.  Trade-off:
    # checkpoint blocks are NOT lineage-recomputable — on a multi-executor
    # cluster where executor loss matters, swap for persist()+unpersist()
    # around a materializing action, or a reliable checkpoint directory.
    sig = minhash_signatures(df, id_col, text_col, num_perm, k).localCheckpoint(
        eager=False
    )
    banded = _band_table(sig, num_perm, bands)
    # Candidate pairs by grouping each LSH bucket (one shuffle on the band
    # key) rather than a self-join, which would shuffle both sides; the
    # in-bucket expansion is bounded by the S-curve's collision rate.
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_set("doc")).alias("ds"))
        .filter(F.size("ds") > 1)
    )

    def _tail_pairs(x, i):
        return F.transform(
            F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
            lambda y: F.struct(x.alias("da"), y.alias("db")),
        )

    cand = (
        buckets.select(F.explode(F.flatten(F.transform("ds", _tail_pairs))).alias("p"))
        .select(F.col("p.da").alias("doc_id_a"), F.col("p.db").alias("doc_id_b"))
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    return _jaccard_verify(cand, sig, threshold)


# Conservative in-memory bytes per (doc, band_id, band_hash) broadcast row:
# a ~32-char doc id string + two longs + JVM row overhead.
_BAND_ROW_EST_BYTES = 96



def _band_table(sig: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(doc, band_id, band_hash) from a signature table — per-row codegen
    only; the hash of each band's signature rows is the LSH bucket key."""
    rows = num_perm // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)]).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sig.select("doc", F.explode(F.array(*band_structs)).alias("band")).select(
        "doc",
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_hash").alias("band_hash"),
    )


def _jaccard_verify(cand: DataFrame, sig: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verify candidate pairs against the hashed-shingle sets
    in `sig`; emits (doc_id_a, doc_id_b, jaccard) for true pairs only.

    The candidate set is collision-bounded; `sig` is corpus-sized.  The
    unhinted formulation sort-merge joined — shuffling the signature
    table TWICE (by doc_id_a, by doc_id_b) per verify
    (plans/r13/minhash_incremental_docs_before.txt).  Instead: checkpoint
    the candidates (member-id set + both verify joins consume them),
    semi-filter `sig` down to candidate MEMBERS with a size-guarded
    broadcast (guide §3.2 pre-filter), and let the verify joins run over
    candidate-bounded frames — the corpus is scanned in place, never
    shuffled.  A backfill-sized candidate set fails the guard and
    degrades to the old sort-merge shape."""
    from delta_go_spark.hints import broadcast_measured

    cand = cand.localCheckpoint(eager=False)
    # EAGER checkpoint: the one materialization job doubles as the size
    # measurement (broadcast_measured reads the stored bytes off the
    # block manager — no separate aggregate job) and the verify plan's
    # broadcast build reads the cached member set instead of re-running
    # the union+distinct over the candidates.
    ids = (
        cand.select(F.col("doc_id_a").alias("doc"))
        .unionByName(cand.select(F.col("doc_id_b").alias("doc")))
        .distinct()
        .localCheckpoint()
    )
    sig_c = sig.join(broadcast_measured(ids), "doc", "left_semi")
    ha = sig_c.select(F.col("doc").alias("doc_id_a"), F.col("hset").alias("sh_a"))
    hb = sig_c.select(F.col("doc").alias("doc_id_b"), F.col("hset").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    jac = inter / union
    return (
        cand.join(ha, "doc_id_a")
        .join(hb, "doc_id_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(jac >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def minhash_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs).orderBy("doc_id_a", "doc_id_b")


# MinHash-LSH ends in an exact-Jaccard verify over the hashed-shingle sets,
# so the emitted pair set is deterministic: exactly the pairs with true
# 3-shingle Jaccard >= 0.6 that banding recalled.  The banding parameters
# are tuned for recall 1.0 on the test corpora (deterministic xxhash64
# permutations — a fixed, re-verifiable fact), which makes the exact
# all-pairs Jaccard computation a valid value-hash oracle, not just a
# rows-only bound.  64-bit shingle hashing collides with ~n^2/2^64
# probability, so hashed-set Jaccard == string-set Jaccard at any test SF.
MINHASH_NEAR_DUP_SQL = NGRAM_JACCARD_SQL


# ---------------------------------------------------------------------------
# SimHash: 60-bit signature, pure per-row expressions.
SIMHASH_BITS = 60  # 15 md5 hex chars -> fits signed int64 in every engine


def with_simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id_col, simhash): 60-bit SimHash over whitespace tokens.

    bit_i(doc) = 1 iff sum over tokens of (+1 if bit_i(h(tok)) else -1) > 0,
    with h(tok) = the first 15 hex chars of md5(tok) as an integer.  md5
    (rather than xxhash64) makes the signature engine-portable — DuckDB
    reproduces it bit-for-bit, so the value-hash oracle can check the
    signatures themselves, not just row counts.

    Execution: explode distinct tokens once, then 60 codegen'd
    conditional SUMs under one groupBy — Spark's higher-order aggregate()
    is INTERPRETED, so the earlier per-doc array-fold form paid a 60x
    interpreted expression walk per document (measured ~1.4x slower at
    sf0.1).  The groupBy's map-side partial aggregation reduces each doc
    to a single (id, 60 ints) row before the exchange, so the one shuffle
    this form adds moves ~100 bytes per document regardless of text
    size — noise next to the corpus scan at any scale.
    """
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    ex = df.select(F.col(id_col), F.explode(toks).alias("_tok")).withColumn(
        "_h", F.conv(F.substring(F.md5("_tok"), 1, 15), 16, 10).cast("long")
    )
    sums = [
        F.sum(
            F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"_b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = ex.groupBy(id_col).agg(*sums)

    def bit(i: int):
        return F.when(
            F.col(f"_b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))

    packed = bit(0)
    for i in range(1, SIMHASH_BITS):
        packed = packed.bitwiseOR(bit(i))
    return agg.withColumn("simhash", packed).select(id_col, "simhash")


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return with_simhash(docs).orderBy("doc_id")


# DuckDB recomputes the identical 60-bit signature: per-token md5-derived
# hashes once in a CTE, then one +/-1 balance per bit.  ONE shared CTE
# chain feeds both simhash oracles, so a signature-formula tweak cannot
# silently diverge them.
_SIMHASH_BIT_TERMS = "\n     + ".join(
    f"CASE WHEN list_sum(list_transform(hs, h -> ((h >> {i}) & 1) * 2 - 1)) > 0"
    f" THEN {1 << i} ELSE 0 END"
    for i in range(SIMHASH_BITS)
)
_SIMHASH_SIG_CTES = f"""hashed AS (
  SELECT doc_id,
         list_transform(list_distinct(string_split(text, ' ')),
           t -> CAST(concat('0x', substring(md5(t), 1, 15)) AS BIGINT)) AS hs
  FROM documents
), sig AS (
  SELECT doc_id,
         CAST({_SIMHASH_BIT_TERMS} AS BIGINT) AS simhash
  FROM hashed
)"""
SIMHASH_SQL = f"""
WITH {_SIMHASH_SIG_CTES}
SELECT doc_id, simhash FROM sig
ORDER BY doc_id
"""


def _simhash_chunk_bounds(n_chunks: int) -> list[tuple[int, int]]:
    """(bit_offset, width) per chunk, splitting the 60-bit signature as
    evenly as possible (e.g. 7 -> four 9-bit + three 8-bit chunks)."""
    base, extra = divmod(SIMHASH_BITS, n_chunks)
    bounds, off = [], 0
    for i in range(n_chunks):
        width = base + (1 if i < extra else 0)
        bounds.append((off, width))
        off += width
    return bounds


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    n_chunks: int = 4,
    pair_bands: bool = False,
) -> DataFrame:
    """SimHash near-duplicate pairs via banded bucketing + exact popcount
    verification.  One shuffle on the band key either way; the banding
    mode trades bucket size against table count:

    - ``pair_bands=False`` (default, small/medium corpora): bucket on
      each of n_chunks single chunks; recall is GUARANTEED 1.0 for
      hamming <= n_chunks-1 (pigeonhole: that many flipped bits cannot
      dirty every chunk).  With the default 4x15-bit chunks, bucket
      occupancy grows linearly in corpus size (2^15 distinct values per
      chunk) and in-bucket pairing is quadratic — fine up to ~10^7 docs.
    - ``pair_bands=True`` (the billion-doc scale path): bucket on every
      PAIR of chunks — C(n_chunks, 2) tables keyed by the concatenated
      pair values (~2x wider keys => quadratically more buckets, ~2^9x
      smaller ones at n_chunks=7).  Recall stays GUARANTEED 1.0 for
      hamming <= n_chunks-2: that many flipped bits leave >= 2 clean
      chunks, i.e. at least one clean pair key.  n_chunks=7 therefore
      preserves the hamming<=3 contract (and up to <=5) with bounded
      buckets.
    """
    sh = with_simhash(df, text_col, id_col).select(
        F.col(id_col).alias("doc"), "simhash"
    )
    bounds = _simhash_chunk_bounds(n_chunks)

    def chunk(c: int):
        off, width = bounds[c]
        return (
            F.shiftright(F.col("simhash"), off)
            .bitwiseAND(F.lit((1 << width) - 1))
            .cast("long")
        )

    if pair_bands:
        combos = [
            (i, j) for i in range(n_chunks) for j in range(i + 1, n_chunks)
        ]
        bands = [
            F.struct(
                F.lit(k).alias("band_id"),
                # one packed long per pair: v_i in the high bits, v_j low
                # (widths are <= 30 bits combined, no overflow)
                F.shiftleft(chunk(i), bounds[j][1])
                .bitwiseOR(chunk(j))
                .alias("band_val"),
            )
            for k, (i, j) in enumerate(combos)
        ]
    else:
        bands = [
            F.struct(
                F.lit(c).alias("band_id"), chunk(c).alias("band_val")
            )
            for c in range(n_chunks)
        ]
    chunks = sh.select(
        "doc", "simhash", F.explode(F.array(*bands)).alias("ch")
    ).select("doc", "simhash", "ch.band_id", "ch.band_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_id_a"),
            F.col("b.doc").alias("doc_id_b"),
            ham.cast("long").alias("hamming"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs within Hamming distance 3 of the 60-bit SimHash.

    max_hamming=3 is the largest radius where the 4-chunk banding has
    GUARANTEED recall 1.0 (pigeonhole: <=3 differing bits cannot touch all
    4 chunks), which is what makes the exact all-pairs DuckDB oracle
    valid — the emitted set is provably the true <=3 set, not a candidate
    gamble."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, max_hamming=3).orderBy(
        "doc_id_a", "doc_id_b"
    )


SIMHASH_NEAR_DUP_SQL = f"""
WITH {_SIMHASH_SIG_CTES}
SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY doc_id_a, doc_id_b
"""


QUERIES: dict = {
    "exact_dedup_docs": (exact_dedup_docs, EXACT_DEDUP_SQL),
    "ngram_jaccard_pairs_docs": (ngram_jaccard_pairs_docs, NGRAM_JACCARD_SQL),
    # Exact oracles (upgraded from rows-only in round 3): minhash's verify
    # step makes its pair set the true >=0.6-Jaccard set, and simhash's
    # md5-derived signature is engine-portable, so both value-hash.
    "minhash_near_dup_docs": (minhash_near_dup_docs, MINHASH_NEAR_DUP_SQL),
    "simhash_docs": (simhash_docs, SIMHASH_SQL),
    "simhash_near_dup_docs": (simhash_near_dup_docs, SIMHASH_NEAR_DUP_SQL),
}


# ---------------------------------------------------------------------------
# Keep-best dedup: one representative per group by an explicit ranking —
# the "keep newest / keep longest" shape every training-data pipeline runs.
def keep_best_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list,
) -> DataFrame:
    """One row per group, chosen by the ranking columns (ties impossible
    when the last order column is unique).  One shuffle on the group key;
    at scale this is the canonical window-dedup plan."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_keep_longest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, lang): keep the single longest document (doc_id as the
    deterministic tiebreak)."""
    docs = load_table(spark, sf_dir, "documents")
    docs = docs.withColumn("_grp", F.concat_ws("|", "source", "lang"))
    best = keep_best_per_group(
        docs, "_grp", [F.desc("n_chars"), F.asc("doc_id")]
    )
    return best.select("source", "lang", "doc_id", "n_chars").orderBy("source", "lang")


DEDUP_KEEP_LONGEST_SQL = """
SELECT source, lang, doc_id, n_chars
FROM (
  SELECT source, lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY source, lang
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
)
WHERE rn = 1
ORDER BY source, lang
"""


QUERIES["dedup_keep_longest_docs"] = (dedup_keep_longest_docs, DEDUP_KEEP_LONGEST_SQL)


# ---------------------------------------------------------------------------
# Near-dup cluster formation: connected components over the pair graph.
# The operator every dedup pipeline ends with — pairs say "these two are
# dups"; training-data curation needs "keep ONE representative per
# transitive cluster" (a~b, b~c => {a,b,c} even when a,c never paired).
def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, cluster_rep) for every node in `pairs`, where cluster_rep is
    the minimum node id reachable through the pair graph.

    Iterative min-label propagation — the alternating-join formulation of
    GraphX/GraphFrames connected components, on plain DataFrames:
    each round every node adopts min(own label, neighbors' labels); a
    fixed point is reached in O(graph diameter) rounds (dedup clusters are
    shallow — near-cliques — so 2-3 rounds in practice).  Per round: one
    join on node id + one min-aggregate, both shuffling only (node, label)
    longs; per-round checkpointing truncates the growing lineage so round
    N's plan does not replay rounds 1..N-1.  The default localCheckpoint
    stores blocks on executors — fast, but not recomputable after
    executor loss; pass checkpoint_dir (HDFS/object-store path on a real
    cluster) to use reliable df.checkpoint() storage instead, the right
    trade for long jobs where losing an executor mid-iteration must not
    kill the run.  The driver-side loop is inherent to iterative
    fixed-point algorithms (one action per round to test convergence) —
    each action is a bounded two-stage job, never a per-row driver loop."""
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _checkpoint(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=False)

    else:

        def _checkpoint(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=False)

    edges = _checkpoint(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    labels = _checkpoint(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        updated = _checkpoint(
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
                (F.coalesce(F.col("nlabel"), F.col("label")) < F.col("label")).alias(
                    "_changed"
                ),
            )
        )
        changed = updated.filter(F.col("_changed")).limit(1).count()
        labels = updated.drop("_changed")
        if changed == 0:
            break
    else:
        # Falling through without convergence would silently return SPLIT
        # clusters (under-deduplication) — fail loudly instead; raise
        # max_iterations for graphs whose diameter genuinely exceeds it.
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations (pair-graph diameter exceeds the bound)"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_rep"))


def _cluster_sizes(cc: DataFrame) -> DataFrame:
    """(cluster_rep, cluster_size) over connected_components labels — THE
    single definition of the cluster-size attach, shared by the cluster
    report and the soft-dedup weights (Spark side; _CSIZE_CTE is its
    oracle twin)."""
    return cc.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )


def dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters over the exact >=0.6-Jaccard pairs:
    every clustered doc with its representative (min reachable doc_id) and
    the cluster's size."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs)
    cc = connected_components(pairs)
    return (
        cc.join(_cluster_sizes(cc), "cluster_rep")
        .select(F.col("node").alias("doc_id"), "cluster_rep", "cluster_size")
        .orderBy("doc_id")
    )


# oracle twin of _cluster_sizes — composed into both consumers below
_CSIZE_CTE = """csize AS (
  SELECT cluster_rep, count(*) AS cluster_size FROM labels GROUP BY 1
)"""

# DuckDB: same clusters via recursive transitive closure (fine at oracle
# scale; the Spark path above is the one that scales).
DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES}, {_CLOSURE_CTES}, {_CSIZE_CTE}
SELECT l.doc_id, l.cluster_rep, s.cluster_size
FROM labels l
JOIN csize s USING (cluster_rep)
ORDER BY l.doc_id
"""


QUERIES["dedup_clusters_docs"] = (dedup_clusters_docs, DEDUP_CLUSTERS_SQL)


# ---------------------------------------------------------------------------
# Soft dedup — REWEIGHT duplicates instead of dropping them (the
# SoftDeDup idea, Xue et al. 2024 arXiv:2401.04578, and the "commonness"
# downweighting in several pretraining recipes): each near-dup cluster's
# members share one document's worth of sampling mass (weight =
# 1/cluster_size), so repeated content stops dominating the loss while
# its best phrasings still contribute.  The drop-based pipeline
# (cluster_representative) and this weight-based one are alternative
# consumers of the SAME pair graph.
#
# Scale: the pair source is pluggable — exact n-gram Jaccard is the
# oracle contract, minhash_lsh_pairs the banded 100 TB path; the weight
# attach is one cluster-size aggregate over CC's O(clustered docs)
# labels + one id-key left join back to the corpus.  Exact integer
# micro-weights (1e6 DIV size: Spark DIV == DuckDB // on positives).
def softdedup_weights(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, cluster_size, weight_micro) for EVERY document: singletons
    carry weight 1.0 (1e6); a k-member near-dup cluster's members carry
    floor(1e6 / k) each, so each cluster sums to ~one document."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, id_col=id_col)
    cc = connected_components(pairs)
    clustered = cc.join(_cluster_sizes(cc), "cluster_rep").select(
        F.col("node").alias(id_col), "cluster_size"
    )
    return (
        df.select(id_col)
        .join(clustered, id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster_size", F.lit(1))
            .cast("long")
            .alias("cluster_size"),
            F.expr("CAST(1000000 DIV coalesce(cluster_size, 1) AS BIGINT)")
            .alias("weight_micro"),
        )
        .orderBy(id_col)
    )


def softdedup_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return softdedup_weights(load_table(spark, sf_dir, "documents"))


SOFTDEDUP_WEIGHTS_SQL = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES}, {_CLOSURE_CTES}, {_CSIZE_CTE}
SELECT d.doc_id,
       CAST(coalesce(s.cluster_size, 1) AS BIGINT) AS cluster_size,
       CAST(1000000 // coalesce(s.cluster_size, 1) AS BIGINT) AS weight_micro
FROM documents d
LEFT JOIN labels l ON d.doc_id = l.doc_id
LEFT JOIN csize s ON l.cluster_rep = s.cluster_rep
ORDER BY d.doc_id
"""


QUERIES["softdedup_weights_docs"] = (
    softdedup_weights_docs,
    SOFTDEDUP_WEIGHTS_SQL,
)


# ---------------------------------------------------------------------------
# Edit-distance verification of near-dup candidates — the character-level
# second opinion on the token-level Jaccard signal (standard for short
# documents, where one token swap moves Jaccard a lot but the texts are
# byte-nearly-identical).  Candidates come from the pluggable pair source
# (exact Jaccard = the oracle contract; minhash_lsh_pairs = the banded
# 100 TB path), so the O(len^2) Levenshtein runs on CANDIDATE VOLUME
# only, never corpus^2; texts join in for just those pairs.
#
# Exactness: Spark's levenshtein and DuckDB's implement the same classic
# edit distance (probed: identical on test pairs incl. empty strings and
# multi-byte chars — both count CHARACTERS); similarity is the integer
# permille 1000 - (1000*d) // max(len_a, len_b) — floor-exact on both.
def editdist_near_dup(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id_a, doc_id_b, edit_dist, edit_sim_permille) for every
    candidate pair — the full verification table, so every distance is
    value-hashed (thresholding is the consumer's one-line filter)."""
    if pairs is None:
        pairs = ngram_jaccard_pairs(df, id_col=id_col, text_col=text_col)
    t = df.select(F.col(id_col), F.col(text_col))
    a = t.select(
        F.col(id_col).alias("doc_id_a"), F.col(text_col).alias("_ta")
    )
    b = t.select(
        F.col(id_col).alias("doc_id_b"), F.col(text_col).alias("_tb")
    )
    d = F.levenshtein(F.col("_ta"), F.col("_tb"))
    # clamp the divisor: two empty texts (reachable through an injected
    # `pairs` frame — minhash_lsh_pairs has no empty-text guarantee, unlike
    # ngram_jaccard_pairs) define sim=1000 (d=0, len 1) instead of a NULL
    # via Spark's non-ANSI DIV and a division-by-zero ERROR in DuckDB
    longest = F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1))
    return (
        pairs.select("doc_id_a", "doc_id_b")
        .join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            d.cast("long").alias("edit_dist"),
            longest.cast("long").alias("_len"),
        )
        # DIV: integer floor division, == DuckDB // on the non-negative
        # operands here
        .withColumn(
            "edit_sim_permille",
            F.expr("CAST(1000 - (1000 * edit_dist) DIV _len AS BIGINT)"),
        )
        .drop("_len")
    )


def editdist_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return editdist_near_dup(docs).orderBy("doc_id_a", "doc_id_b")


EDITDIST_NEAR_DUP_SQL = f"""
WITH {_JACCARD_PAIRS_CTES}
SELECT p.doc_id_a, p.doc_id_b,
       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
       CAST(1000 - (1000 * levenshtein(da.text, db.text))
                   // greatest(length(da.text), length(db.text), 1)
            AS BIGINT) AS edit_sim_permille
FROM jpairs p
JOIN documents da ON p.doc_id_a = da.doc_id
JOIN documents db ON p.doc_id_b = db.doc_id
ORDER BY p.doc_id_a, p.doc_id_b
"""


QUERIES["editdist_near_dup_docs"] = (
    editdist_near_dup_docs,
    EDITDIST_NEAR_DUP_SQL,
)


# ---------------------------------------------------------------------------
# Cross-document repeated-SPAN removal — the ExactSubstr rule of Lee et
# al. 2022 (arXiv:2107.06499, "Deduplicating Training Data Makes Language
# Models Better"): drop ANY span of >= L tokens whose token sequence also
# occurs in ANOTHER document, keeping the rest of the document.  This is
# the axis segment_dedup misses: segment_dedup drops FIXED-boundary
# segments, so a repeated passage straddling a segment boundary survives;
# the published rule drops the repeated span wherever it sits.
#
# Equivalence to the suffix-array formulation at threshold L: a token
# position lies inside a maximal cross-doc-repeated substring of length
# >= L  iff  it is covered by at least one cross-doc-repeated L-gram
# window — so marking every start i whose L-gram appears in >= 2 distinct
# documents and dropping positions [i, i+L) computes exactly the
# ExactSubstr drop set, with a gram-join instead of a distributed suffix
# array.  Unlike span_scrub (in-doc repeats, strictly-after-first) this
# drops ALL copies: the rule de-weights boilerplate entirely rather than
# electing a canonical occurrence (the paper's choice as well).
#
# Scale: grams travel as (doc_id, i, 8-byte xxhash64) — the text never
# shuffles.  "Appears in >= 2 distinct docs" is min(doc) != max(doc) —
# partial-aggregable, so a boilerplate gram repeated 10^6 times combines
# map-side instead of skewing a hot reducer (unique_gram_redact's trick,
# inverted).  Only hit starts flow back through the gram join; covered
# positions aggregate per doc; the rebuild works from each doc's OWN
# token array — one id-key join, no corpus^2 anywhere.  Hash caveat: a
# 64-bit collision can only OVER-drop (a unique gram masquerading as
# repeated), never under-drop; the exact-string oracle pins the fixture.
_XS_N = 6  # span threshold L (the paper uses 50 BPE tokens at web scale;
# the fixture's short template docs repeat at 6-token granularity)


def exactsubstr_dedup(
    df: DataFrame,
    n: int = _XS_N,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_tokens, n_dropped, rebuilt_md5): every token position
    covered by an L-gram that occurs in >= 2 distinct documents is
    dropped; rebuilt_md5 fingerprints the surviving text."""
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_t")
    )
    starts = (
        base.filter(F.size("_t") >= n)  # sequence(0, m-n) descends if m<n
        .select(
            id_col,
            "_t",
            F.explode(F.sequence(F.lit(0), F.size("_t") - n)).alias("_i"),
        )
        .select(
            id_col,
            "_i",
            F.xxhash64(
                F.concat_ws(" ", F.slice("_t", F.col("_i") + 1, n))
            ).alias("_g"),
        )
        # TWO consumers (the repeated-gram aggregate and the hit-start
        # join below); when `repeated` broadcasts, the join side is never
        # shuffled so exchange reuse cannot kick in and the whole
        # tokenize + explode + hash pipeline ran TWICE
        # (plans/r13/exactsubstr_dedup_docs_before.txt — the r13 verdict's
        # item 4).  One lazy checkpoint computes it once for both; the
        # stored (id, i, 8-byte gram) rows are the same narrow volume the
        # aggregate must shuffle anyway (guide §2.4, the shingle-set
        # materialization trade).
        .localCheckpoint(eager=False)
    )
    repeated = (
        starts.groupBy("_g")
        .agg(F.min(id_col).alias("_lo"), F.max(id_col).alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("_g")
    )
    drop = (
        starts.join(repeated, "_g")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_i"), F.col("_i") + (n - 1))
            ).alias("_j"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("_j").alias("_drop"))  # set: overlaps dedup here
    )
    empty = F.array().cast("array<int>")
    covered = F.coalesce(F.col("_drop"), empty)
    rebuilt = F.concat_ws(
        " ",
        F.filter("_t", lambda t, j: ~F.array_contains(covered, j)),
    )
    return base.join(drop, id_col, "left").select(
        id_col,
        F.size("_t").alias("n_tokens"),
        F.coalesce(F.size("_drop"), F.lit(0)).alias("n_dropped"),
        F.md5(rebuilt.cast("binary")).alias("rebuilt_md5"),
    )


def exactsubstr_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(load_table(spark, sf_dir, "documents"))
    return exactsubstr_dedup(docs).orderBy("doc_id")


# The gram/position/rebuild skeleton is single-sourced with span_scrub and
# unique_gram_redact (curation.gram_span_oracle_sql): only the hit
# criterion (cross-doc-repeated grams, on exact strings) differs; the
# rebuild DROPS hit positions, exactly span_scrub's rule.
from delta_go_spark.functions.curation import gram_span_oracle_sql  # noqa: E402

EXACTSUBSTR_DEDUP_SQL = gram_span_oracle_sql(
    _XS_N,
    """rep AS (
  SELECT g FROM (SELECT g, min(doc_id) AS lo, max(doc_id) AS hi
                 FROM grams GROUP BY g)
  WHERE lo <> hi
), hitstart AS (
  SELECT gr.doc_id, gr.i FROM grams gr JOIN rep USING (g)
)""",
    "list(t.tk[p.j + 1] ORDER BY p.j) FILTER (WHERE r.j IS NULL)",
    "n_dropped",
    "rebuilt_md5",
)


QUERIES["exactsubstr_dedup_docs"] = (
    exactsubstr_dedup_docs,
    EXACTSUBSTR_DEDUP_SQL,
)


# ---------------------------------------------------------------------------
# Cross-document SEGMENT dedup (the C4 / RefinedWeb "repeated paragraph"
# rule): split every document into units, keep only the FIRST occurrence
# (ordered by doc_id, then position) of each distinct unit corpus-wide,
# and reassemble the survivors in original order.  Real corpora split on
# paragraph breaks; this synthetic corpus has none, so the unit is a
# fixed-width token segment — the splitter is the only pluggable part.
#
# Scale design: segments shuffle as (doc_id, seg_idx, 16-byte md5) — the
# TEXT never travels.  First-occurrence is a groupBy-min on the segment
# hash (map-side partial aggregation absorbs hot segments: a boilerplate
# unit repeated 10^6 times combines locally instead of skewing one
# window partition), the keep-mask joins back on the same hash key, and
# reassembly rebuilds text from each doc's OWN token array via one
# doc_id join.  Three narrow-key shuffles total, AQE-skew-safe.
def segment_dedup(
    df: DataFrame,
    seg_tokens: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_segments, n_kept, rebuilt_md5): rebuilt_md5 fingerprints the
    document text after dropping every repeated segment occurrence (the
    first occurrence corpus-wide survives; ties are impossible because
    (doc_id, seg_idx) is unique)."""
    k = seg_tokens
    toks = F.split(F.col(text_col), " ")
    n_segs = F.greatest(F.lit(1), F.ceil(F.size(toks) / F.lit(k)))
    segs = df.select(
        F.col(id_col),
        toks.alias("_t"),
        F.explode(F.sequence(F.lit(0), (n_segs - 1).cast("int"))).alias(
            "seg_idx"
        ),
    ).select(
        id_col,
        "seg_idx",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("_t"), F.col("seg_idx") * k + 1, k)
            ).cast("binary")
        ).alias("_h"),
    )
    firsts = segs.groupBy("_h").agg(
        F.min(F.struct(id_col, "seg_idx")).alias("_first")
    )
    flagged = segs.join(firsts, "_h").select(
        id_col,
        "seg_idx",
        (F.struct(id_col, "seg_idx") == F.col("_first")).alias("_kept"),
    )
    per_doc = flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("_kept").cast("long")).alias("n_kept"),
        F.array_sort(
            F.collect_list(F.when(F.col("_kept"), F.col("seg_idx")))
        ).alias("_idxs"),
    )
    rebuilt = F.array_join(
        F.flatten(
            F.transform(
                F.col("_idxs"),
                lambda i: F.slice(F.col("_toks"), i * k + 1, k),
            )
        ),
        " ",
    )
    return (
        per_doc.join(df.select(id_col, toks.alias("_toks")), id_col)
        .select(
            id_col,
            "n_segments",
            "n_kept",
            F.md5(rebuilt.cast("binary")).alias("rebuilt_md5"),
        )
    )


def segment_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return segment_dedup(docs, seg_tokens=4).orderBy("doc_id")


SEGMENT_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk,
         len(string_split(text, ' ')) AS n
  FROM documents
), seg AS (
  SELECT doc_id, tk, unnest(generate_series(0,
           CAST(greatest(1, ceil(n / 4.0)) AS BIGINT) - 1)) AS seg_idx
  FROM toks
), hashed AS (
  SELECT doc_id, seg_idx,
         md5(array_to_string(tk[seg_idx*4+1 : seg_idx*4+4], ' ')) AS h
  FROM seg
), ranked AS (
  SELECT doc_id, seg_idx,
         row_number() OVER (PARTITION BY h ORDER BY doc_id, seg_idx) AS rn
  FROM hashed
), perdoc AS (
  SELECT doc_id,
         count(*) AS n_segments,
         CAST(sum(CAST(rn = 1 AS INT)) AS BIGINT) AS n_kept,
         list_sort(coalesce(list(seg_idx) FILTER (WHERE rn = 1),
                            []::BIGINT[])) AS idxs
  FROM ranked GROUP BY doc_id
)
SELECT p.doc_id,
       CAST(p.n_segments AS BIGINT) AS n_segments,
       p.n_kept,
       md5(coalesce(array_to_string(flatten(list_transform(p.idxs,
             i -> t.tk[i*4+1 : i*4+4])), ' '), '')) AS rebuilt_md5
FROM perdoc p JOIN toks t USING (doc_id)
ORDER BY doc_id
"""


QUERIES["segment_dedup_docs"] = (segment_dedup_docs, SEGMENT_DEDUP_SQL)


# ---------------------------------------------------------------------------
# Incremental near-dup maintenance: when new documents land in a Delta
# table, extend the corpus pair set with work proportional to the CHANGE
# volume, not the corpus — the batch analog of what a 100 TB pipeline
# must do on every ingest (a full-recompute of LSH over the corpus per
# batch is the scale-killer this avoids).
def minhash_incremental_pairs(
    sig_base: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_perm: int = 16,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Pairs involving at least one NEW document.

    ``sig_base`` is the persisted signature table of the corpus so far
    (schema of minhash_signatures: doc, hset, mh0..mh{num_perm-1}) — a
    production deployment maintains it alongside the table and appends
    ``sig_new`` to it after this call.  Only the new batch is shingled;
    candidates come from one equi-join of the new bands against all
    bands (shuffle keyed on the band hash, collision-bounded), and the
    exact-Jaccard verify touches candidates only.  Union the result with
    the previously-stored pair set to get exactly the pairs a full
    recompute over the grown corpus would emit: old-old pairs are already
    stored, and any pair involving a new doc collides here on the same
    band keys a full run would use.
    """
    # A persisted signature table computed under different parameters
    # would silently change which pairs collide — refuse it loudly.
    have = {c for c in sig_base.columns if c.startswith("mh")}
    want = {f"mh{j}" for j in range(num_perm)}
    if have != want:
        raise ValueError(
            f"sig_base has {len(have)} permutations, expected {num_perm} — "
            "pass the num_perm the signature table was built with"
        )
    sig_new = minhash_signatures(
        new_docs, id_col, text_col, num_perm, k
    ).localCheckpoint(eager=False)
    sig_all = sig_base.unionByName(sig_new)
    nb = _band_table(sig_new, num_perm, bands).withColumnRenamed("doc", "doc_n")
    ab = _band_table(sig_all, num_perm, bands)
    # The batch side is USUALLY small (a CDF micro-batch) — broadcast it
    # so the corpus band table is scanned in place, never shuffled (a
    # plain join would sort-merge BOTH sides on the band key: O(corpus)
    # per ingest, the exact cost this operator exists to avoid).  But a
    # backfill or first-load pushed through the same path would OOM
    # executors on a multi-GB broadcast, so the hint is guarded by a size
    # estimate: past the session's autoBroadcastJoinThreshold the join
    # falls back to a plain shuffle (and counting sig_new here doubles as
    # eager materialization of its checkpoint, so the batch signatures are
    # computed once either way).
    n_new = sig_new.count()
    nb = broadcast_if_small(nb, n_new * bands * _BAND_ROW_EST_BYTES)
    cand = (
        nb.join(ab, ["band_id", "band_hash"])
        .filter(F.col("doc_n") != F.col("doc"))
        .select(
            F.least("doc_n", "doc").alias("doc_id_a"),
            F.greatest("doc_n", "doc").alias("doc_id_b"),
        )
        .dropDuplicates(["doc_id_a", "doc_id_b"])
    )
    return _jaccard_verify(cand, sig_all, threshold)


def minhash_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: CDF-driven incremental near-dup maintenance,
    DELETE-aware (the last maintainer to gain it — softdedup_incremental
    consumes this exact pair contract downstream).

    Build (cached once per sf_dir): a Delta documents table whose v0
    holds 80% of the corpus, plus the two artifacts a production
    pipeline persists — the v0 signature table and the v0 pair set; then
    v1 appends the remaining 20% and v2 DELETES every doc_id % 7 == 0
    (hitting v0 docs — their stored signatures AND stored pairs must
    vanish — and v1 docs, whose insert+delete must net to nothing).
    Query: net the change feed (cdf_net_changes), anti-join deleted ids
    out of the stored signatures BEFORE the band join (a phantom pair
    new-doc x deleted-stored-doc must never form), drop stored pairs
    with a deleted endpoint, run the incremental band join for the net
    inserts, and union with the surviving stored pairs.  The oracle is
    the full-recompute pair SQL over the POST-DELETE corpus — a hash
    match proves incremental maintenance converges to exactly the
    from-scratch answer through appends AND deletes.

    Cost stays O(change + collision candidates): the netted feed is
    change-bounded, the anti-joins are key-joins against it, and the
    band join broadcasts the batch side (minhash_incremental_pairs).
    """
    import os
    import shutil

    from delta_go_spark import cdf
    from delta_go_spark.functions.textops import cdf_net_changes
    from delta_go_spark.operators.delta_queries import _CACHE_ROOT, _ensure_built
    from delta_go_spark.table import DeltaTable

    key = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(_CACHE_ROOT, key, "inc_minhash")
    tbl = os.path.join(root, "docs")
    sig_path = os.path.join(root, "sig_v0")
    pairs_path = os.path.join(root, "pairs_v0")

    def build():
        # artifacts first, the Delta table's final version last: the table
        # version is the completion marker _ensure_built checks, so a
        # crash mid-build can never serve the table without its artifacts
        shutil.rmtree(root, ignore_errors=True)
        # mod7 materialized: the engine's predicate grammar is
        # comparison-only, so the v2 delete key must be a stored column
        docs = load_table(spark, sf_dir, "documents").withColumn(
            "mod7", F.col("doc_id") % 7
        )
        v0 = docs.filter(F.col("doc_id") % 5 != 0)
        # num_perm must match minhash_incremental_pairs' default (16) —
        # minhash_signatures' own default is 32
        minhash_signatures(v0, num_perm=16).write.mode("overwrite").parquet(
            sig_path
        )
        minhash_lsh_pairs(v0).write.mode("overwrite").parquet(pairs_path)
        t = DeltaTable.create(
            spark, tbl, v0,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        t.append(docs.filter(F.col("doc_id") % 5 == 0))
        # v2: deletes hit v0 docs (stored sigs + pairs must shrink) and
        # v1 docs (insert+delete nets to nothing)
        t.delete_where("mod7 = 0")

    _ensure_built(tbl, 2, build, sf_dir=sf_dir, tables=("documents",))
    new_docs, deleted_docs = cdf_net_changes(
        cdf.table_changes(spark, tbl, start_version=1)
    )
    # checkpoint the DELETE side (O(change) ids): three anti-joins and a
    # zero-job size measurement consume it.  The INSERT side has exactly
    # one consumer — the signature build, which is itself checkpointed
    # and materialized once — so an eager checkpoint here only added a
    # job that replayed the CDF netting a second time (r14: jobs per
    # refresh shaved; the netting still runs once, inside the signature
    # materialization).
    new_docs = new_docs.select("doc_id", "text")
    del_ids = deleted_docs.select("doc_id").localCheckpoint()
    return minhash_incremental_update(
        spark.read.parquet(sig_path),
        spark.read.parquet(pairs_path),
        new_docs,
        del_ids,
    ).orderBy("doc_id_a", "doc_id_b")


def minhash_incremental_update(
    sig_base: DataFrame,
    pairs0: DataFrame,
    new_docs: DataFrame,
    deleted_ids: DataFrame,
    num_perm: int = 16,
) -> DataFrame:
    """Delete-aware maintenance step for the persisted near-dup pair set:
    emit the post-change pair set from the stored signatures + stored
    pairs and a NETTED change batch (cdf_net_changes' contract — an
    updated doc appears as delete + insert).

    Three change-bounded moves, mirroring softdedup_incremental's:
      1. deleted endpoints leave the stored SIGNATURES before the band
         join — a phantom pair (new doc x deleted stored doc) must
         never form;
      2. stored PAIRS with a deleted endpoint drop (two anti-joins
         against the O(change) delete set);
      3. the incremental band join (batch side broadcast, corpus band
         table never reshuffled) adds every pair with >= 1 net-new doc.
    The union is exactly the full-recompute pair set over the
    post-change corpus — the registry oracle's contract."""
    from delta_go_spark.hints import broadcast_if_small, measured_df_bytes

    # O(deletes) id set vs the stored signature/pair STATE: one measured
    # estimate (callers hand a checkpointed frame — when it is EAGERLY
    # materialized the measurement is a zero-job block-manager read)
    # feeds the size guard on all three anti-joins, so the state side is
    # never shuffled — unhinted, the planner saw an unsized LogicalRDD
    # and sort-merge joined
    # (plans/r13/minhash_incremental_docs_before.txt); a backfill-sized
    # delete set degrades back to the shuffle.
    del_est = measured_df_bytes(deleted_ids)
    dels_sig = broadcast_if_small(
        deleted_ids.withColumnRenamed("doc_id", "doc"), del_est
    )
    sig_live = sig_base.join(dels_sig, "doc", "left_anti")
    inc = minhash_incremental_pairs(sig_live, new_docs, num_perm=num_perm)
    surviving = pairs0.join(
        broadcast_if_small(
            deleted_ids.withColumnRenamed("doc_id", "doc_id_a"), del_est
        ),
        "doc_id_a",
        "left_anti",
    ).join(
        broadcast_if_small(
            deleted_ids.withColumnRenamed("doc_id", "doc_id_b"), del_est
        ),
        "doc_id_b",
        "left_anti",
    )
    return surviving.unionByName(inc)


# Full-recompute oracle over the POST-DELETE corpus — identical SQL
# template to the one-shot minhash query, live rows only: incremental
# maintenance must converge to it through appends AND deletes.
MINHASH_INCREMENTAL_SQL = NGRAM_JACCARD_SQL.replace(
    "FROM documents", "FROM live_docs"
).replace(
    "WITH ",
    "WITH live_docs AS (\n"
    "  SELECT * FROM documents WHERE doc_id % 7 <> 0\n"
    "), ",
    1,
)


QUERIES["minhash_incremental_docs"] = (
    minhash_incremental_docs,
    MINHASH_INCREMENTAL_SQL,
)


# ---------------------------------------------------------------------------
# CDF-incremental SOFT-dedup — doremi_incremental's shape on the dedup
# axis: the per-document (cluster_size, weight_micro) table is maintained
# from the Delta change feed instead of recomputed corpus-wide per
# refresh.  Production state = four persisted artifacts (signatures,
# pair set, CC labels, cluster sizes); an ingest batch then costs
# O(change volume + affected-cluster mass):
#   1. incremental band join of the NEW docs against the stored
#      signatures (minhash_incremental_pairs — collision-bounded, the
#      corpus side never reshuffles);
#   2. connected components over ONLY the affected subgraph — the new
#      pairs plus the stored pairs of clusters an endpoint touches; a new
#      doc bridging two old clusters merges them here, and every
#      UNtouched cluster's label/size is served from stored state
#      untouched (the whole point: no corpus-wide CC per refresh);
#   3. weights re-derive from sizes exactly as the batch rule.
#
# Correctness: the oracle is the BATCH soft-dedup SQL over the
# POST-CHANGE corpus (exact-Jaccard pair contract) — a hash match proves
# incremental cluster maintenance converges to the from-scratch
# clustering, through cluster MERGES (a new doc bridging two old
# clusters: affected old-old pairs must re-enter the sub-CC or the
# merged cluster would report two sizes) AND cluster SPLITS (the v2
# delete removes stored docs; a deleted bridge splits its cluster, and
# only a re-CC over the surviving pairs finds the split).
def softdedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from delta_go_spark import cdf
    from delta_go_spark.operators.delta_queries import _CACHE_ROOT, _ensure_built
    from delta_go_spark.table import DeltaTable

    key = sf_dir.strip("/").replace("/", "_")
    root = os.path.join(_CACHE_ROOT, key, "inc_softdedup")
    tbl = os.path.join(root, "docs")
    sig_path = os.path.join(root, "sig_v0")
    pairs_path = os.path.join(root, "pairs_v0")
    labels_path = os.path.join(root, "labels_v0")
    csize_path = os.path.join(root, "csize_v0")

    def build():
        # artifacts first, the Delta table's final version last: the table
        # version is the completion marker _ensure_built checks, so a
        # crash mid-build can never serve the table without its artifacts
        shutil.rmtree(root, ignore_errors=True)
        # mod7 materialized: the engine's predicate grammar is
        # comparison-only, so the v2 delete key must be a stored column
        docs = load_table(spark, sf_dir, "documents").withColumn(
            "mod7", F.col("doc_id") % 7
        )
        v0 = docs.filter(F.col("doc_id") % 5 != 0)
        minhash_signatures(v0, num_perm=16).write.mode("overwrite").parquet(
            sig_path
        )
        p0 = minhash_lsh_pairs(v0)
        p0.write.mode("overwrite").parquet(pairs_path)
        cc0 = connected_components(spark.read.parquet(pairs_path))
        cc0.write.mode("overwrite").parquet(labels_path)
        _cluster_sizes(spark.read.parquet(labels_path)).write.mode(
            "overwrite"
        ).parquet(csize_path)
        t = DeltaTable.create(
            spark, tbl, v0,
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        t.append(docs.filter(F.col("doc_id") % 5 == 0))
        # v2: deletes hit v0 docs (stored clusters shrink or SPLIT) and
        # v1 docs (insert+delete nets to nothing)
        t.delete_where("mod7 = 0")

    _ensure_built(tbl, 2, build, sf_dir=sf_dir, tables=("documents",))
    from delta_go_spark.functions.textops import cdf_net_changes

    new_docs, deleted_docs = cdf_net_changes(
        cdf.table_changes(spark, tbl, start_version=1)
    )
    # checkpoint the delete side (O(change) ids — consumed by the guard
    # measurement and several anti-joins); the insert side's only
    # consumer is the checkpointed signature build, so it needs no
    # checkpoint of its own (r14 — the eager one re-ran the CDF netting
    # for a job that bought nothing)
    deleted_ids = deleted_docs.select("doc_id").localCheckpoint()
    # drop deleted docs from the stored signatures BEFORE the band join:
    # a phantom pair (new doc x deleted stored doc) must never form.
    # Guarded broadcast of the O(deletes) set keeps the signature state
    # unshuffled (guide §3.1).
    from delta_go_spark.hints import broadcast_if_small, measured_df_bytes

    # measure the checkpointed base frame (zero-job stored-bytes read),
    # not the renamed projection on top of it
    sig_base = spark.read.parquet(sig_path).join(
        broadcast_if_small(
            deleted_ids.withColumnRenamed("doc_id", "doc"),
            measured_df_bytes(deleted_ids),
        ),
        "doc",
        "left_anti",
    )
    # checkpoint: the incremental pair set feeds three consumers (two
    # touch-set projections + the sub-CC edge list) and would otherwise
    # recompute the whole CDF-read + band-join pipeline per consumer
    # (exchange reuse needs byte-identical subtrees; these differ)
    inc_pairs = minhash_incremental_pairs(sig_base, new_docs).select(
        "doc_id_a", "doc_id_b"
    ).localCheckpoint()
    return softdedup_incremental_update(
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 7 != 0)
        .select("doc_id"),
        inc_pairs,
        spark.read.parquet(pairs_path),
        spark.read.parquet(labels_path),
        spark.read.parquet(csize_path),
        deleted_ids=deleted_ids,
    ).orderBy("doc_id")


def softdedup_incremental_update(
    all_ids: DataFrame,
    inc_pairs: DataFrame,
    pairs0: DataFrame,
    labels0: DataFrame,
    csize0: DataFrame,
    id_col: str = "doc_id",
    deleted_ids: DataFrame | None = None,
) -> DataFrame:
    """Merge a change batch's incremental pair set into the persisted
    cluster state and emit the post-change corpus's (id, cluster_size,
    weight_micro) table.

    `all_ids` = every document id after the change batch; `inc_pairs` =
    pairs with >= 1 new doc (minhash_incremental_pairs); `pairs0`/
    `labels0`/`csize0` = the persisted pair set, CC labels (node,
    cluster_rep) and sizes of the PRE-change corpus; `deleted_ids` =
    ids removed by the batch (one id_col column).  Connected components
    re-runs over ONLY the affected subgraph — inc_pairs plus the stored
    pairs of any cluster an incremental pair OR a delete touches, MINUS
    pairs with a deleted endpoint.  A new doc bridging two old clusters
    merges them; a deleted BRIDGE doc splits its cluster (the sub-CC
    over the surviving pairs finds the split — the case no size
    decrement can express); a member whose every edge died falls out of
    the sub-CC and lands as a singleton via the final coalesce.  Every
    untouched cluster is served from stored state without
    recomputation — work stays O(change + affected-cluster mass)."""
    from delta_go_spark.hints import (
        broadcast_if_small,
        broadcast_measured,
        measured_df_bytes,
    )

    touched = (
        inc_pairs.select(F.col("doc_id_a").alias("node"))
        .unionByName(inc_pairs.select(F.col("doc_id_b").alias("node")))
    )
    if deleted_ids is not None:
        # O(deletes) node set vs the stored pair state: checkpoint once
        # (four anti-joins consume it), measure once, guard-broadcast so
        # pairs0 is never shuffled by the delete erasure (it sort-merge
        # joined before — plans/r13/softdedup_incremental_docs_before.txt)
        dels = (
            deleted_ids.select(F.col(id_col).alias("node"))
            .distinct()
            .localCheckpoint()
        )
        del_est = measured_df_bytes(dels)
        touched = touched.unionByName(dels)
        # pairs with a deleted endpoint vanish from both pair sources
        inc_pairs = inc_pairs.join(
            broadcast_if_small(
                dels.withColumnRenamed("node", "doc_id_a"), del_est
            ),
            "doc_id_a",
            "left_anti",
        ).join(
            broadcast_if_small(
                dels.withColumnRenamed("node", "doc_id_b"), del_est
            ),
            "doc_id_b",
            "left_anti",
        )
        pairs0 = pairs0.join(
            broadcast_if_small(
                dels.withColumnRenamed("node", "doc_id_a"), del_est
            ),
            "doc_id_a",
            "left_anti",
        ).join(
            broadcast_if_small(
                dels.withColumnRenamed("node", "doc_id_b"), del_est
            ),
            "doc_id_b",
            "left_anti",
        )
    # every frame below is O(change) or O(affected-cluster mass), each
    # consumed by joins against corpus-sized state (labels0/pairs0) —
    # checkpoint + measured guarded broadcast keeps the state sides
    # unshuffled (backfills degrade to the shuffle join as before)
    touched = touched.distinct().localCheckpoint()
    affected_reps = (
        labels0.join(broadcast_measured(touched), "node")
        .select("cluster_rep")
        .distinct()
        .localCheckpoint()
    )
    reps_b = broadcast_measured(affected_reps)
    # REORDERED from pairs0 ⋈ labels0 ⋈ affected_reps: the old order
    # sort-merge joined two corpus-sized STATE tables before the
    # affected filter could bite.  Resolving the affected node set first
    # (labels0 ⋈ reps, O(affected mass)) lets the pair-state join run
    # broadcast too.  Equivalent because labels0 holds exactly one row
    # per node and affected_reps is distinct — no fan-out either way.
    affected_nodes = (
        labels0.join(reps_b, "cluster_rep")
        .select(F.col("node").alias("doc_id_a"))
        .localCheckpoint()
    )
    affected_old_pairs = (
        pairs0.select("doc_id_a", "doc_id_b")
        .join(broadcast_measured(affected_nodes), "doc_id_a")
        .select("doc_id_a", "doc_id_b")
    )
    sub_cc = connected_components(
        inc_pairs.unionByName(affected_old_pairs)
    )
    # The sub-CC label frame is a checkpoint projection (sizeless
    # LogicalRDD to Catalyst), so its self-join against its own size
    # aggregate planned sort-merge — TWO exchanges over the affected set
    # (plans/r13/softdedup_incremental_docs_after.txt nodes 20/26/29, the
    # r13 verdict's item 7).  The size table is O(affected clusters) —
    # change-bounded by construction — so the eager checkpoint + measured
    # broadcast keeps the label side unshuffled; a backfill-sized batch
    # fails the guard and degrades to the shuffle as everywhere else.
    sub_sizes = _cluster_sizes(sub_cc).localCheckpoint()
    sub_clustered = sub_cc.join(
        broadcast_if_small(sub_sizes, measured_df_bytes(sub_sizes)),
        "cluster_rep",
    ).select(
        F.col("node").alias(id_col), "cluster_size"
    )
    kept_clustered = (
        labels0.join(reps_b, "cluster_rep", "left_anti")
        .join(csize0, "cluster_rep")
        .select(F.col("node").alias(id_col), "cluster_size")
    )
    clustered = kept_clustered.unionByName(sub_clustered)
    return all_ids.join(clustered, id_col, "left").select(
        id_col,
        F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        F.expr("CAST(1000000 DIV coalesce(cluster_size, 1) AS BIGINT)").alias(
            "weight_micro"
        ),
    )


# Batch recompute over the POST-CHANGE corpus (v0 + the appended batch -
# the v2 deletes = documents with doc_id % 7 != 0): incremental cluster
# maintenance must converge to exactly the from-scratch soft-dedup
# weights.  Same SQL, live-rows CTE (RECURSIVE heads the WITH list, so
# live_docs slots in after it).
SOFTDEDUP_INCREMENTAL_SQL = SOFTDEDUP_WEIGHTS_SQL.replace(
    "FROM documents", "FROM live_docs"
).replace(
    "WITH RECURSIVE ",
    "WITH RECURSIVE live_docs AS (\n"
    "  SELECT * FROM documents WHERE doc_id % 7 <> 0\n"
    "), ",
)


QUERIES["softdedup_incremental_docs"] = (
    softdedup_incremental_docs,
    SOFTDEDUP_INCREMENTAL_SQL,
)


# ---------------------------------------------------------------------------
# Normalization-keyed dedup (the C4/web-corpus "fuzzy exact" pass): case,
# punctuation and whitespace variants of the same opening boilerplate are
# grouped by the md5 of a NORMALIZED prefix — catching near-identical pages
# that raw-byte hashing (exact_dedup_docs) misses, at exact-dedup cost.
def normalized_dedup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    len_col: str = "n_chars",
    prefix: int = 80,
) -> DataFrame:
    """Duplicate groups under the normalized-prefix key: lowercase, every
    non-alphanumeric run collapsed to one space, trimmed, first `prefix`
    chars, md5'd.  Emits one row per group with >1 member: the canonical
    document (longest, doc-id tiebreak — the keep-best rule) plus member
    count/checksum.

    Scale shape: one narrow projection then ONE partial-aggregable
    groupBy on a 16-byte key — the canonical pick rides the same
    aggregate as a struct-max, so there is no window and no second
    shuffle (skew-safe under hot boilerplate, like segment_dedup).
    """
    nk = F.md5(
        F.substring(
            F.trim(
                F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]+", " ")
            ),
            1,
            prefix,
        )
    )
    best = F.max(
        F.struct(
            F.col(len_col).alias("nc"), (-F.col(id_col)).alias("nid")
        )
    )
    return (
        df.select(nk.alias("nk"), id_col, len_col)
        .groupBy("nk")
        .agg(
            (-best.getField("nid")).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_members"),
            F.sum(id_col).alias("member_id_sum"),
            F.max(len_col).alias("max_chars"),
        )
        .filter(F.col("n_members") > 1)
        .select("canonical_id", "n_members", "member_id_sum", "max_chars")
        .orderBy("canonical_id")
    )


def normalized_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalized_dedup_groups(load_table(spark, sf_dir, "documents"))


NORMALIZED_DEDUP_SQL = """
WITH normed AS (
  SELECT doc_id, n_chars,
         md5(substr(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                    1, 80)) AS nk
  FROM documents
)
SELECT CAST(-max(struct_pack(nc := n_chars, nid := -doc_id)).nid AS BIGINT)
         AS canonical_id,
       count(*) AS n_members,
       CAST(sum(doc_id) AS BIGINT) AS member_id_sum,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM normed GROUP BY nk HAVING count(*) > 1 ORDER BY canonical_id
"""


QUERIES["normalized_dedup_docs"] = (normalized_dedup_docs, NORMALIZED_DEDUP_SQL)


# ---------------------------------------------------------------------------
# Integer PageRank over the near-dup pair graph (Page et al. 1999, the
# fixed-iteration form): rank mass flowing along duplicate edges surfaces
# the "hub" documents that near-duplicate whole families of others — the
# prioritization signal a curation pipeline uses to pick which cluster
# member to keep (or which to route to review) beyond the min-id
# representative CC gives.  The usual float PageRank cannot be
# hash-checked across engines (sum order), so every step is an integer
# floor: ranks live in micro-units, each edge contribution is
# floor(floor(rank * damping%) / degree) — deterministic on any engine,
# any partitioning, any reduction order (integer sums commute).
def pagerank_int(
    pairs: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
) -> DataFrame:
    """(node, rank_micro) after `iterations` synchronous integer PageRank
    rounds over the undirected pair graph (nodes = endpoints).

    Scale shape: per round ONE join on node id + one integer-sum
    aggregate, both shuffling (long, long) pairs — identical to the
    connected-components loop that is already the cluster scale path;
    the driver loop is the bounded iteration count, never data-sized.
    The degree table is computed once and reused across rounds
    (localCheckpoint), so round N's plan does not replay the explode."""
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .unionByName(
            pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
        )
        .distinct()
    )
    # The out-degree is static across rounds — fold it INTO the
    # checkpointed edge table once, so each round joins ONE table (the
    # rank frame) instead of two (rank + degree): one join per round
    # saved, and round plans shuffle only (long, long) pairs as before.
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    edges_deg = edges.join(deg, "src").localCheckpoint(eager=False)
    base = scale * (100 - damping_pct) // 100
    ranks = (
        edges_deg.select("src")
        .dropDuplicates(["src"])
        .select("src", F.lit(scale).cast("long").alias("rank"))
    )
    for _ in range(iterations):
        contrib = (
            edges_deg.join(ranks, "src")
            .select(
                F.col("dst"),
                F.floor(
                    F.floor(F.col("rank") * damping_pct / 100) / F.col("deg")
                )
                .cast("long")
                .alias("c"),
            )
        )
        ranks = (
            contrib.groupBy("dst")
            .agg((F.lit(base) + F.sum("c")).alias("rank"))
            .select(F.col("dst").alias("src"), "rank")
        )
    return ranks.select(F.col("src").alias("node"), F.col("rank").alias("rank_micro"))


def pagerank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: integer PageRank over the exact >=0.6-Jaccard pair
    graph (the oracle's requirement — a production run feeds
    minhash_lsh_pairs, which plugs in unchanged), ranks descending."""
    docs = load_table(spark, sf_dir, "documents")
    return pagerank_int(ngram_jaccard_pairs(docs)).orderBy(
        F.desc("rank_micro"), F.asc("node")
    )


def _pagerank_sql() -> str:
    rounds = []
    prev = "r0"
    for t in range(1, 4):
        rounds.append(
            f"""r{t} AS (
  SELECT e.dst AS node,
         150000 + CAST(sum(CAST(floor(CAST(floor(r.rank * 85 / 100) AS BIGINT) / d.deg) AS BIGINT)) AS BIGINT) AS rank
  FROM edges e
  JOIN {prev} r ON r.node = e.src
  JOIN degs d ON d.node = e.src
  GROUP BY e.dst
)"""
        )
        prev = f"r{t}"
    chain = ", ".join(rounds)
    return f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES}, edges AS (
  SELECT doc_id_a AS src, doc_id_b AS dst FROM jpairs
  UNION
  SELECT doc_id_b AS src, doc_id_a AS dst FROM jpairs
), degs AS (
  SELECT src AS node, count(*) AS deg FROM edges GROUP BY src
), r0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS rank FROM degs
), {chain}
SELECT node, rank AS rank_micro FROM r3
ORDER BY rank_micro DESC, node
"""


QUERIES["pagerank_docs"] = (pagerank_docs, _pagerank_sql())


# ---------------------------------------------------------------------------
# Cross-source contamination matrix: near-dup pair counts by source pair.
# A curation team's first question after any near-dup pass is "WHICH
# sources overlap?" — scrapes mirroring each other, a dataset ingested
# twice under two names, benchmark sites leaking into web crawl.  The
# matrix aggregates the pair graph to source granularity so that decision
# is made per source pair, not per document.
def cross_source_matrix(
    pairs: DataFrame,
    meta: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """(source_lo, source_hi, n_pairs, n_docs) per unordered source pair
    over a near-dup pair graph (doc_id_a, doc_id_b) — diagonal rows
    (lo == hi) are intra-source duplication, off-diagonal rows are
    cross-source contamination.

    Scale shape: two joins of the PAIR GRAPH (bounded by near-dup volume,
    not corpus size) against a narrow (id, source) projection, then ONE
    aggregate on the sources² key — each pair explodes into exactly two
    (pair, endpoint) rows, so n_pairs = count/2 and n_docs dedups the
    endpoints in the same groupBy; the pair source is evaluated once
    (no second aggregate branch to re-run a pluggable 100 TB pair
    computation).  The registry row feeds the exact Jaccard graph (the
    oracle's requirement); at 100 TB feed minhash_lsh_pairs unchanged."""
    ma = meta.select(
        F.col(id_col).alias("_ida"), F.col(source_col).alias("_sa")
    )
    mb = meta.select(
        F.col(id_col).alias("_idb"), F.col(source_col).alias("_sb")
    )
    return (
        pairs.join(ma, F.col("doc_id_a") == F.col("_ida"))
        .join(mb, F.col("doc_id_b") == F.col("_idb"))
        .select(
            F.least("_sa", "_sb").alias("source_lo"),
            F.greatest("_sa", "_sb").alias("source_hi"),
            F.explode(F.array("doc_id_a", "doc_id_b")).alias("_d"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_pairs"),
            F.count_distinct("_d").cast("long").alias("n_docs"),
        )
    )


def cross_source_matrix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return cross_source_matrix(ngram_jaccard_pairs(docs), docs).orderBy(
        "source_lo", "source_hi"
    )


CROSS_SOURCE_MATRIX_SQL = f"""
WITH {_JACCARD_PAIRS_CTES}, lab AS (
  SELECT least(ma.source, mb.source) AS source_lo,
         greatest(ma.source, mb.source) AS source_hi,
         doc_id_a, doc_id_b
  FROM jpairs
  JOIN documents ma ON ma.doc_id = doc_id_a
  JOIN documents mb ON mb.doc_id = doc_id_b
), perpair AS (
  SELECT source_lo, source_hi, count(*) AS n_pairs FROM lab GROUP BY 1, 2
), docs AS (
  SELECT source_lo, source_hi, count(DISTINCT d) AS n_docs
  FROM (SELECT source_lo, source_hi, doc_id_a AS d FROM lab
        UNION ALL SELECT source_lo, source_hi, doc_id_b FROM lab)
  GROUP BY 1, 2
)
SELECT p.source_lo, p.source_hi, CAST(p.n_pairs AS BIGINT) AS n_pairs,
       CAST(d.n_docs AS BIGINT) AS n_docs
FROM perpair p JOIN docs d USING (source_lo, source_hi)
ORDER BY source_lo, source_hi
"""

QUERIES["cross_source_matrix_docs"] = (
    cross_source_matrix_docs,
    CROSS_SOURCE_MATRIX_SQL,
)


# ---------------------------------------------------------------------------
# Canonical-representative selection — the step AFTER clustering: a near-dup
# cluster keeps exactly one document, and which one matters (the cleanest
# copy trains better than a random member).  Pick = the member maximizing
# (n_words, n_chars, -doc_id) — all-integer quality keys, so the argmax is
# bit-reproducible on any engine (a float quality score would risk ULP rank
# flips; swap one in only with the floor-scaled-integer trick).
def cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(cluster, rep_id, n_members, member_id_sum) per multi-member
    cluster of the pair graph — `cluster` is the connected-component min
    label, `rep_id` the quality-argmax member.

    The pair source is pluggable (same contract as cluster_safe_split /
    cross_source_matrix): exact Jaccard pairs for the oracle row,
    minhash_lsh_pairs unchanged at 100 TB.

    Scale shape: components shuffle only (long, long) labels; the member
    quality keys ride ONE partial-aggregable groupBy as a struct-max (no
    window, skew-safe under a giant boilerplate cluster), joined to the
    docs on the id key once."""
    labels = connected_components(pairs)
    members = docs.select(
        F.col(id_col),
        F.size(F.split(F.col("text"), " ")).alias("_nw"),
        F.coalesce(F.length("text"), F.lit(0)).alias("_nc"),
    ).join(labels.withColumnRenamed("node", id_col), id_col)
    return (
        members.groupBy(F.col("cluster_rep").alias("cluster"))
        .agg(
            F.max(
                F.struct(
                    F.col("_nw"), F.col("_nc"), (-F.col(id_col)).alias("_negid")
                )
            ).alias("_best"),
            F.count(F.lit(1)).alias("n_members"),
            F.sum(id_col).alias("member_id_sum"),
        )
        .select(
            "cluster",
            (-F.col("_best._negid")).alias("rep_id"),
            F.col("_best._nw").alias("rep_n_words"),
            "n_members",
            "member_id_sum",
        )
    )


def cluster_representative_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry query: representatives of the exact >=0.6-Jaccard
    clusters (the oracle replays the closure by recursive CTE and the
    argmax by the identical integer keys)."""
    docs = load_table(spark, sf_dir, "documents")
    return cluster_representatives(docs, ngram_jaccard_pairs(docs)).orderBy(
        "cluster"
    )


CLUSTER_REPRESENTATIVE_SQL = f"""
WITH RECURSIVE {_JACCARD_PAIRS_CTES}, {_CLOSURE_CTES}, members AS (
  SELECT l.cluster_rep AS cluster, d.doc_id,
         len(string_split(d.text, ' ')) AS nw,
         coalesce(length(d.text), 0) AS nc
  FROM labels l JOIN documents d USING (doc_id)
), best AS (
  SELECT cluster, doc_id AS rep_id, nw AS rep_n_words,
         row_number() OVER (PARTITION BY cluster
                            ORDER BY nw DESC, nc DESC, doc_id ASC) AS rk
  FROM members
), stats AS (
  SELECT cluster, count(*) AS n_members,
         CAST(sum(doc_id) AS BIGINT) AS member_id_sum
  FROM members GROUP BY cluster
)
SELECT b.cluster, b.rep_id, b.rep_n_words, s.n_members, s.member_id_sum
FROM best b JOIN stats s USING (cluster)
WHERE b.rk = 1
ORDER BY cluster
"""


QUERIES["cluster_representative_docs"] = (
    cluster_representative_docs,
    CLUSTER_REPRESENTATIVE_SQL,
)


# ---------------------------------------------------------------------------
# Containment near-dup (Broder 1997, "On the resemblance and containment of
# documents"): C(A,B) = |S(A) n S(B)| / |S(A)| — the ASYMMETRIC companion to
# Jaccard resemblance.  A short document quoted wholesale inside a long one
# has low Jaccard (the union is dominated by the long doc) but containment
# ~1.0, so a Jaccard-only dedup pass ships the quoted copy straight into the
# training set.  Candidate generation is the same shingle equi-join as
# ngram_jaccard_pairs (cost quadratic only inside shared-shingle groups,
# never corpus-wide); the metric is emitted in round-half-up MILLI units via
# pure BIGINT arithmetic ((2000*c + n) DIV (2*n)) so both engines produce
# bit-identical integers (no double rounding on the wire).
def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold_milli: int = 800,
) -> DataFrame:
    """Pairs where either direction's k-shingle containment >= threshold.

    Output: (doc_id_a, doc_id_b, cont_a_milli, cont_b_milli) with
    cont_a_milli = round_half_up(1000 * |A n B| / |A|) — how much of A's
    shingle set also appears in B.  Scale: identical shape to the Jaccard
    pair join (16-byte shingle-hash shuffle, per-doc set via
    dropDuplicates); at 100 TB the same banded-MinHash pre-filter slots in
    front (minhash_lsh_pairs), since high containment of the SMALLER set
    implies a shared band with high probability.
    """
    # Materialized once for the self-join, same rationale as
    # ngram_jaccard_pairs (two shingle subtrees otherwise — see the note
    # there).
    sh = with_shingle_hashes(df, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(
            F.col("a.doc").alias("da"),
            F.col("a.n").alias("na"),
            F.col("b.doc").alias("db"),
            F.col("b.n").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.select(
            F.col("da").alias("doc_id_a"),
            F.col("db").alias("doc_id_b"),
            F.expr("(2000 * n_common + na) div (2 * na)").alias("cont_a_milli"),
            F.expr("(2000 * n_common + nb) div (2 * nb)").alias("cont_b_milli"),
        )
        .filter(
            F.greatest("cont_a_milli", "cont_b_milli") >= F.lit(threshold_milli)
        )
    )


def containment_near_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs).orderBy("doc_id_a", "doc_id_b")


CONTAINMENT_NEAR_DUP_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), exploded AS (
  SELECT doc_id, t,
         unnest(generate_series(1, greatest(len(t) - 2, 1))) AS i
  FROM toks
), sh AS (
  SELECT DISTINCT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS shingle
  FROM exploded
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), common AS (
  SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT doc_id_a, doc_id_b,
         (2000 * n_common + sa.n) // (2 * sa.n) AS cont_a_milli,
         (2000 * n_common + sb.n) // (2 * sb.n) AS cont_b_milli
  FROM common
  JOIN sizes sa ON doc_id_a = sa.doc_id
  JOIN sizes sb ON doc_id_b = sb.doc_id
)
SELECT doc_id_a, doc_id_b,
       CAST(cont_a_milli AS BIGINT) AS cont_a_milli,
       CAST(cont_b_milli AS BIGINT) AS cont_b_milli
FROM scored
WHERE greatest(cont_a_milli, cont_b_milli) >= 800
ORDER BY doc_id_a, doc_id_b
"""


QUERIES["containment_near_dup_docs"] = (
    containment_near_dup_docs,
    CONTAINMENT_NEAR_DUP_SQL,
)
